package graft.lineage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.CreateDataSourceTableAsSelectCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

/** WRITE-path lineage capture: record the column lineage of
  * `df.write` / `INSERT INTO` / CTAS statements keyed by the storage
  * location the write filled, so a later read of that location splices
  * the producing query's lineage back in and column lineage composes
  * table-to-table across materializations (read → transform → write →
  * read → …).  The reference's lineage (an analyzer-rule walk,
  * `sql/catalyst/.../analysis/ResolveLineage.scala:29`) stops at every
  * materialization; this is the same registry-splice device graft uses
  * for lineage-erasing checkpoints ([[LineageRegistry.capture]]).
  *
  * A file write is keyed by its output path, a v1 or Hive catalog
  * table by the `location` its session catalog holds once the command
  * has succeeded, so two warehouses' `default.t` never share an entry.
  * A DSv2 table is keyed by its catalog-qualified name: `MemCatalog`'s
  * store is JVM-wide and keyed by catalog name, so for those tables the
  * name is the location.
  *
  * Two capture routes:
  *  - [[capture]] — synchronous, on the command's own QueryExecution
  *    (`spark.sql("CREATE TABLE … AS …")` returns it); race-free.
  *  - [[register]] — a QueryExecutionListener, so plain
  *    `df.write.parquet(path)` / `saveAsTable` calls are captured from
  *    the listener bus (asynchronous: tests drain with
  *    `sparkContext.listenerBus.waitUntilEmpty()`).
  *
  * Driver-side plan metadata only; a capture failure never fails the
  * write ([[LineageRegistry.guarded]] announces the first one).
  */
object SinkLineage {

  /** Location normalization, shared by the write capture and the
    * read-side splice: strip the `file:` scheme and trailing slashes
    * from paths, the implicit `spark_catalog.` prefix from v2 table
    * names — the two sides qualify differently.
    */
  def normalizeId(id: String): String = {
    val s = id.stripPrefix("file:")
    var e = s.length
    while (e > 1 && s.charAt(e - 1) == '/') e -= 1
    s.substring(0, e).stripPrefix("spark_catalog.")
  }

  /** Inspect one executed plan and record any write it performs.
    * Handles the v1 file/datasource commands, the Hive insert/CTAS
    * commands, and the DSv2 write nodes.  Non-write plans no-op.
    */
  def capture(qe: QueryExecution): Unit =
    LineageRegistry.guarded("sink") {
      captureLogical(qe.sparkSession, qe.analyzed)
    }

  private def captureLogical(spark: SparkSession,
      plan: LogicalPlan): Unit = plan match {
    // eagerly-executed commands surface wrapped after execution
    case cr: CommandResult =>
      captureLogical(spark, cr.commandLogicalPlan)

    case c: InsertIntoHadoopFsRelationCommand =>
      val append = c.mode == org.apache.spark.sql.SaveMode.Append
      LineageRegistry.captureWrite(normalizeId(c.outputPath.toString),
        c.outputColumnNames, c.query, append)

    case c: CreateDataSourceTableAsSelectCommand =>
      LineageRegistry.captureWrite(location(spark, c.table.identifier),
        c.outputColumnNames, c.query, append = false)

    case c: org.apache.spark.sql.hive.execution.InsertIntoHiveTable =>
      LineageRegistry.captureWrite(location(spark, c.table.identifier),
        c.outputColumnNames, c.query, append = !c.overwrite)

    case c: org.apache.spark.sql.hive.execution.CreateHiveTableAsSelectCommand =>
      LineageRegistry.captureWrite(location(spark, c.tableDesc.identifier),
        c.outputColumnNames, c.query, append = false)

    // ── DSv2 write nodes (the analyzed statements) ──
    case a: AppendData =>
      v2Identity(a.table).foreach(id => LineageRegistry.captureWrite(
        id, a.table.output.map(_.name), a.query, append = true))

    case o: OverwriteByExpression =>
      v2Identity(o.table).foreach(id => LineageRegistry.captureWrite(
        id, o.table.output.map(_.name), o.query, append = false))

    case o: OverwritePartitionsDynamic =>
      v2Identity(o.table).foreach(id => LineageRegistry.captureWrite(
        id, o.table.output.map(_.name), o.query, append = false))

    case c: CreateTableAsSelect =>
      ctasIdentity(c.name).foreach(id => LineageRegistry.captureWrite(
        id, c.query.output.map(_.name), c.query, append = false))

    case r: ReplaceTableAsSelect =>
      ctasIdentity(r.name).foreach(id => LineageRegistry.captureWrite(
        id, r.query.output.map(_.name), r.query, append = false))

    // ── row-level rewrites (UPDATE / DELETE / MERGE INTO on a v2
    // catalog) ── the analyzer rewrites the statements straight to
    // ReplaceData / WriteDelta (reference RowLevelWrite commands,
    // `sql/catalyst/.../v2Commands.scala`), so THESE are what the
    // capture sees.  The replacement query reads BOTH the prior target
    // rows and the merge/update source (the lineage walker's MergeRows
    // case resolves the assembled columns), so append-union it into
    // the target's entry: the MERGE target then traces to its prior
    // state AND the merge source.
    case rd: ReplaceData =>
      captureRewrite(rd.originalTable, rd.table, rd.query)

    case wd: WriteDelta =>
      captureRewrite(wd.originalTable, wd.table, wd.query)

    case _ => ()
  }

  /** A written catalog table's location, read back from the session
    * catalog (a CTAS's own description has none yet). */
  private def location(spark: SparkSession,
      table: org.apache.spark.sql.catalyst.TableIdentifier): String =
    normalizeId(spark.sessionState.catalog.getTableMetadata(table)
      .location.toString)

  /** Capture a rewritten row-level command.  The query's output may
    * trail metadata/operation attrs (row id, __row_operation,
    * _partition) — keep only attrs naming actual table columns.
    * Target-attr references resolve through the registry's PRIOR entry
    * for the table (the leaf splice is single-level, so no self-loop),
    * and `append = true` unions with the previous entry, so unassigned
    * columns keep their lineage.
    */
  private def captureRewrite(
      original: org.apache.spark.sql.catalyst.analysis.NamedRelation,
      table: org.apache.spark.sql.catalyst.analysis.NamedRelation,
      query: LogicalPlan): Unit =
    v2Identity(original).foreach { id =>
      val cols = table.output.map(_.name).toSet
      val dataAttrs = query.output.filter(a => cols.contains(a.name))
      if (dataAttrs.nonEmpty)
        LineageRegistry.captureWrite(id, dataAttrs.map(_.name),
          Project(dataAttrs, query), append = true)
    }

  private def v2Identity(
      rel: org.apache.spark.sql.catalyst.analysis.NamedRelation)
      : Option[String] = rel match {
    case d: DataSourceV2Relation => Some(normalizeId(d.table.name()))
    case other => Option(other.name).map(normalizeId)
  }

  private def ctasIdentity(name: LogicalPlan): Option[String] = name match {
    case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier =>
      Some(normalizeId(
        (r.catalog.name() +: r.identifier.namespace() :+
          r.identifier.name()).mkString(".")))
    case _ => None
  }

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = capture(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  // weak: a registered session that nothing else holds can be collected
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Idempotently attach the write-capture listener to a session. */
  def register(spark: SparkSession): Unit =
    if (registered.synchronized(registered.add(spark)))
      spark.listenerManager.register(listener)

  /** Detach (test hook). */
  def unregister(spark: SparkSession): Unit =
    if (registered.synchronized(registered.remove(spark)))
      spark.listenerManager.unregister(listener)
}
