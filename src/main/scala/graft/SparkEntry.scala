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

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = merged("gate",
    graft.queries.Tpch.queries.toSeq ++
    graft.queries.TpchHard.queries.toSeq ++
    graft.queries.Joins.queries.toSeq ++
    graft.queries.Relational.queries.toSeq ++
    graft.queries.OpsQueries.queries.toSeq ++
    graft.queries.LineageQueries.queries.toSeq ++
    graft.queries.Functions.queries.toSeq ++
    graft.queries.Events.queries.toSeq ++
    graft.queries.AsOfQueries.queries.toSeq ++
    graft.queries.Subqueries.queries.toSeq ++
    graft.queries.Approx.queries.toSeq ++
    graft.queries.TopKQueries.queries.toSeq ++
    graft.queries.SqlSurface.queries.toSeq ++
    graft.queries.StreamingQueries.queries.toSeq ++
    graft.queries.PipelineQueries.queries.toSeq ++
    graft.queries.GateQueries.queries.toSeq ++
    graft.queries.ModernSql.queries.toSeq ++
    graft.queries.ModernSql4.queries.toSeq ++
    graft.queries.VocabQueries.queries.toSeq ++
    graft.queries.MergeQueries.queries.toSeq ++
    graft.queries.FinalQueries.queries.toSeq ++
    graft.queries.TpcdsShapes.queries.toSeq ++
    graft.queries.TpcdsShapes2.queries.toSeq ++
    graft.queries.TpcdsShapes3.queries.toSeq ++
    graft.queries.TpcdsShapes4.queries.toSeq ++
    graft.queries.CoercionQueries.queries.toSeq ++
    graft.queries.SsbShapes.queries.toSeq ++
    graft.queries.SubqueryCorners.queries.toSeq ++
    graft.queries.GroupAnalytics.queries.toSeq ++
    graft.queries.HiveQueries.queries.toSeq ++
    graft.queries.SqlGolden.queries.toSeq ++
    graft.queries.SketchQueries.queries.toSeq ++
    graft.queries.SurfaceTail.queries.toSeq ++
    graft.queries.CorpusQueries.queries.toSeq ++
    graft.queries.AnalyticsQueries.queries.toSeq ++
    graft.queries.WarehouseQueries.queries.toSeq ++
    graft.queries.FuzzQueries.queries.toSeq ++
    graft.queries.FuzzStreamQueries.queries.toSeq ++
    graft.queries.GoldenTail.queries.toSeq ++
    graft.queries.CurationQueries.queries.toSeq ++
    graft.queries.QualityQueries.queries.toSeq ++
    graft.queries.CatalogQueries.queries.toSeq ++
    graft.queries.TfIdfQueries.queries.toSeq ++
    graft.queries.StateStoreQueries.queries.toSeq ++
    graft.queries.PrefQueries.queries.toSeq ++
    graft.queries.ChatQueries.queries.toSeq ++
    graft.queries.MixQueries.queries.toSeq ++
    graft.queries.Utf8Queries.queries.toSeq)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] = merged("oracle",
    graft.queries.Tpch.oracle.toSeq ++
    graft.queries.TpchHard.oracle.toSeq ++
    graft.queries.Joins.oracle.toSeq ++
    graft.queries.Relational.oracle.toSeq ++
    graft.queries.OpsQueries.oracle.toSeq ++
    graft.queries.LineageQueries.oracle.toSeq ++
    graft.queries.Functions.oracle.toSeq ++
    graft.queries.Events.oracle.toSeq ++
    graft.queries.AsOfQueries.oracle.toSeq ++
    graft.queries.Subqueries.oracle.toSeq ++
    graft.queries.Approx.oracle.toSeq ++
    graft.queries.TopKQueries.oracle.toSeq ++
    graft.queries.SqlSurface.oracle.toSeq ++
    graft.queries.StreamingQueries.oracle.toSeq ++
    graft.queries.PipelineQueries.oracle.toSeq ++
    graft.queries.GateQueries.oracle.toSeq ++
    graft.queries.ModernSql.oracle.toSeq ++
    graft.queries.ModernSql4.oracle.toSeq ++
    graft.queries.VocabQueries.oracle.toSeq ++
    graft.queries.MergeQueries.oracle.toSeq ++
    graft.queries.FinalQueries.oracle.toSeq ++
    graft.queries.TpcdsShapes.oracle.toSeq ++
    graft.queries.TpcdsShapes2.oracle.toSeq ++
    graft.queries.TpcdsShapes3.oracle.toSeq ++
    graft.queries.TpcdsShapes4.oracle.toSeq ++
    graft.queries.CoercionQueries.oracle.toSeq ++
    graft.queries.SsbShapes.oracle.toSeq ++
    graft.queries.SubqueryCorners.oracle.toSeq ++
    graft.queries.GroupAnalytics.oracle.toSeq ++
    graft.queries.HiveQueries.oracle.toSeq ++
    graft.queries.SqlGolden.oracle.toSeq ++
    graft.queries.SketchQueries.oracle.toSeq ++
    graft.queries.SurfaceTail.oracle.toSeq ++
    graft.queries.CorpusQueries.oracle.toSeq ++
    graft.queries.AnalyticsQueries.oracle.toSeq ++
    graft.queries.WarehouseQueries.oracle.toSeq ++
    graft.queries.FuzzQueries.oracle.toSeq ++
    graft.queries.FuzzStreamQueries.oracle.toSeq ++
    graft.queries.GoldenTail.oracle.toSeq ++
    graft.queries.CurationQueries.oracle.toSeq ++
    graft.queries.QualityQueries.oracle.toSeq ++
    graft.queries.CatalogQueries.oracle.toSeq ++
    graft.queries.TfIdfQueries.oracle.toSeq ++
    graft.queries.StateStoreQueries.oracle.toSeq ++
    graft.queries.PrefQueries.oracle.toSeq ++
    graft.queries.ChatQueries.oracle.toSeq ++
    graft.queries.MixQueries.oracle.toSeq ++
    graft.queries.Utf8Queries.oracle.toSeq)
}
