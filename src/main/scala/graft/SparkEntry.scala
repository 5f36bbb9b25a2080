package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each operator family contributes its `(queries, oracle)` pair; this
  * object is just the merge point. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q3ShippingPriority(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ RecallQueries.queries ++
      TextAnalysis.queries ++ Dedup.queries ++ Components.queries ++
      Similarity.queries ++ IvfQueries.queries ++ ProductQuant.queries ++
      ScalarQuant.queries ++
      Multimodal.queries ++ HybridRetrieval.queries ++
      GraphTraversal.queries ++ AdvancedQueries.queries ++
      AsOfJoin.queries ++ Sampling.queries ++
      graft.sources.LakeQueries.queries ++ IncrementalAgg.queries ++
      graft.sources.Catalog.queries ++
      graft.streaming.EventsStream.queries ++
      graft.streaming.CdfStream.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++ RecallQueries.oracle ++
      TextAnalysis.oracle ++ Dedup.oracle ++ Components.oracle ++
      Similarity.oracle ++ IvfQueries.oracle ++ ProductQuant.oracle ++
      ScalarQuant.oracle ++
      Multimodal.oracle ++ HybridRetrieval.oracle ++
      GraphTraversal.oracle ++ AdvancedQueries.oracle ++
      AsOfJoin.oracle ++ Sampling.oracle ++
      graft.sources.LakeQueries.oracle ++ IncrementalAgg.oracle ++
      graft.sources.Catalog.oracle ++
      graft.streaming.EventsStream.oracle ++
      graft.streaming.CdfStream.oracle
}
