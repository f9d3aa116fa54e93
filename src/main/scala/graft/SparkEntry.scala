package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.relational._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query keys follow SURVEY.md §2 exactly; each ops module co-locates
  * its DataFrame implementations with the DuckDB oracle SQL so the two
  * sides stay in sync column-for-column (the driver sorts columns by
  * name before hashing, so aliases must match on both sides).
  */
object SparkEntry {

  private[graft] val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Scans.queries, Scans.oracle),
      (Basics.queries, Basics.oracle),
      (SortLimit.queries, SortLimit.oracle),
      (SetOps.queries, SetOps.oracle),
      (Joins.queries, Joins.oracle),
      (Subqueries.queries, Subqueries.oracle),
      (Composed.queries, Composed.oracle),
      (Composed2.queries, Composed2.oracle),
      (FuzzyJoin.queries, FuzzyJoin.oracle),
      (Resample.queries, Resample.oracle),
      (Graph.queries, Graph.oracle),
      (Scalars.queries, Scalars.oracle),
      (Scalars2.queries, Scalars2.oracle),
      (graft.functions.TextUdf.queries, graft.functions.TextUdf.oracle),
      (Aggregations.queries, Aggregations.oracle),
      (Windows.queries, Windows.oracle),
      (graft.ops.cdc.CdcQueries.queries, graft.ops.cdc.CdcQueries.oracle),
      (graft.ops.cdc.MergeInto.queries, graft.ops.cdc.MergeInto.oracle),
      (graft.ops.cdc.MergeSql.queries, graft.ops.cdc.MergeSql.oracle),
      (graft.ops.cdc.DmlSql.queries, graft.ops.cdc.DmlSql.oracle),
      (graft.ops.cdc.MorQueries.queries, graft.ops.cdc.MorQueries.oracle),
      (graft.ops.cdc.CloneQueries.queries, graft.ops.cdc.CloneQueries.oracle),
      (graft.ops.cdc.Quality.queries, graft.ops.cdc.Quality.oracle),
      (graft.ops.llm.LlmQueries.queries, graft.ops.llm.LlmQueries.oracle),
      (graft.ops.llm.LlmQueries2.queries, graft.ops.llm.LlmQueries2.oracle),
      (graft.ops.llm.Bpe.queries, graft.ops.llm.Bpe.oracle),
      (graft.ops.llm.QualityFilters.queries, graft.ops.llm.QualityFilters.oracle),
      (graft.ops.llm.Ranking.queries, graft.ops.llm.Ranking.oracle),
      (graft.ops.llm.Dsir.queries, graft.ops.llm.Dsir.oracle),
      (graft.ops.llm.Quota.queries, graft.ops.llm.Quota.oracle),
      (graft.ops.llm.Winnow.queries, graft.ops.llm.Winnow.oracle),
      (graft.ops.llm.Sampling.queries, graft.ops.llm.Sampling.oracle),
      (graft.ops.llm.RandomProjection.queries, graft.ops.llm.RandomProjection.oracle),
      (graft.ops.llm.CorpusStats.queries, graft.ops.llm.CorpusStats.oracle),
      (graft.ops.llm.UrlCanon.queries, graft.ops.llm.UrlCanon.oracle),
      (graft.ops.llm.Boilerplate.queries, graft.ops.llm.Boilerplate.oracle),
      (graft.ops.llm.SemDedup.queries, graft.ops.llm.SemDedup.oracle),
      (graft.ops.llm.Multimodal.queries, graft.ops.llm.Multimodal.oracle),
      (graft.streaming.StreamApplyQuery.queries,
        graft.streaming.StreamApplyQuery.oracle),
      (graft.ops.cdc.ZorderStrQuery.queries,
        graft.ops.cdc.ZorderStrQuery.oracle),
      (graft.ops.cdc.AnalyzeQuery.queries,
        graft.ops.cdc.AnalyzeQuery.oracle),
      (graft.sources.CatalogQueries.queries,
        graft.sources.CatalogQueries.oracle)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggregations.qAggBasic(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    disjointUnion(modules.map(_._1), "query")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    disjointUnion(modules.map(_._2), "oracle")

  /** The union of module maps, failing on a key two modules define — a
    * plain `++` would let the later module silently shadow the earlier. */
  private[graft] def disjointUnion[V](maps: Seq[Map[String, V]],
                                      what: String): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity)
      .collect { case (k, ks) if ks.size > 1 => k }.toSeq.sorted
    require(dups.isEmpty, s"$what keys defined by more than one module: " +
      dups.mkString(", "))
    maps.foldLeft(Map.empty[String, V])(_ ++ _)
  }
}
