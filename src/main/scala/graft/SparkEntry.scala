package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-group query maps; each group file documents which
  * SURVEY.md §2 rows it covers.  Group maps are merged through
  * [[merged]], which FAILS on a duplicate gate name instead of letting
  * `Map ++` silently shadow an earlier group's entry (a collision once
  * dropped a live gate without any signal).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  private def merged[V](what: String, entries: Seq[(String, V)]): Map[String, V] = {
    val dups = entries.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"duplicate $what name(s) across query groups: ${dups.mkString(", ")}")
    entries.toMap
  }

  /** Every query group as its (gates, oracles) pair. */
  private def groups: Seq[(Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = {
    import graft.queries._
    Seq(
      (Tpch.queries, Tpch.oracle),
      (TpchHard.queries, TpchHard.oracle),
      (Joins.queries, Joins.oracle),
      (Relational.queries, Relational.oracle),
      (OpsQueries.queries, OpsQueries.oracle),
      (LineageQueries.queries, LineageQueries.oracle),
      (Functions.queries, Functions.oracle),
      (Events.queries, Events.oracle),
      (AsOfQueries.queries, AsOfQueries.oracle),
      (Subqueries.queries, Subqueries.oracle),
      (Approx.queries, Approx.oracle),
      (TopKQueries.queries, TopKQueries.oracle),
      (SqlSurface.queries, SqlSurface.oracle),
      (StreamingQueries.queries, StreamingQueries.oracle),
      (PipelineQueries.queries, PipelineQueries.oracle),
      (GateQueries.queries, GateQueries.oracle),
      (ModernSql.queries, ModernSql.oracle),
      (ModernSql4.queries, ModernSql4.oracle),
      (VocabQueries.queries, VocabQueries.oracle),
      (MergeQueries.queries, MergeQueries.oracle),
      (FinalQueries.queries, FinalQueries.oracle),
      (TpcdsShapes.queries, TpcdsShapes.oracle),
      (TpcdsShapes2.queries, TpcdsShapes2.oracle),
      (TpcdsShapes3.queries, TpcdsShapes3.oracle),
      (TpcdsShapes4.queries, TpcdsShapes4.oracle),
      (CoercionQueries.queries, CoercionQueries.oracle),
      (SsbShapes.queries, SsbShapes.oracle),
      (SubqueryCorners.queries, SubqueryCorners.oracle),
      (GroupAnalytics.queries, GroupAnalytics.oracle),
      (HiveQueries.queries, HiveQueries.oracle),
      (SqlGolden.queries, SqlGolden.oracle),
      (SketchQueries.queries, SketchQueries.oracle),
      (SurfaceTail.queries, SurfaceTail.oracle),
      (CorpusQueries.queries, CorpusQueries.oracle),
      (AnalyticsQueries.queries, AnalyticsQueries.oracle),
      (WarehouseQueries.queries, WarehouseQueries.oracle),
      (FuzzQueries.queries, FuzzQueries.oracle),
      (FuzzStreamQueries.queries, FuzzStreamQueries.oracle),
      (GoldenTail.queries, GoldenTail.oracle),
      (CurationQueries.queries, CurationQueries.oracle),
      (QualityQueries.queries, QualityQueries.oracle),
      (CatalogQueries.queries, CatalogQueries.oracle),
      (TfIdfQueries.queries, TfIdfQueries.oracle),
      (StateStoreQueries.queries, StateStoreQueries.oracle),
      (PrefQueries.queries, PrefQueries.oracle),
      (ChatQueries.queries, ChatQueries.oracle),
      (MixQueries.queries, MixQueries.oracle),
      (Utf8Queries.queries, Utf8Queries.oracle))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    merged("gate", groups.flatMap(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    merged("oracle", groups.flatMap(_._2))
}
