package graft.lineage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Column-level lineage, rebuilt from the reference's design
  * (`sql/catalyst/.../analysis/ResolveLineage.scala:29-135`,
  * `catalyst/lineage/{Column,ExpressionColumn,RelationColumn,UnionColumn}.scala`)
  * as a pure post-hoc walk over the *analyzed* logical plan instead of
  * analyzer-rule mutation.
  *
  * One walk ([[hopWalk]]) builds the hop-level derivation DAG; every
  * other view is derived from it.  A column's source set is the set of
  * leaves of its hop tree ([[HopNode.sources]]), and control-flow
  * lineage is a flag of that same walk, not a second one.
  *
  * Differences from the reference, by design:
  *  - Immutable: no `var lineageChildren` on plan nodes
  *    (`LineageEntity.scala:22-23`), so plan copies can't lose lineage —
  *    the reference's known copy-loss bug (SURVEY.md §7 hard-parts (b)).
  *  - Complete edges: the reference passes `Aggregate`/`Window`/
  *    `Generate`/`Join` through untouched (`ResolveLineage.scala:108-116`);
  *    here each maps its output expressions to leaf source columns, and
  *    n-ary `Union` works (reference zips only binary unions, :96-107).
  *  - Same core algorithm: ExprId join between an expression's leaf
  *    references and the child plan's resolved columns
  *    (`ResolveLineage.scala:32-74` fetchRelation/findAllChildren).
  */
object ColumnLineage {

  /** A physical source column: table identity + column name. */
  final case class SourceColumn(table: String, column: String) {
    override def toString: String = s"$table.$column"
  }

  /** Lineage of one output column of a query. */
  final case class OutputLineage(name: String, sources: Set[SourceColumn])

  /** Column lineage DAG flattened to output → leaf-source sets. */
  final case class LineageGraph(outputs: Seq[OutputLineage]) {
    def apply(name: String): Set[SourceColumn] =
      outputs.find(_.name == name).map(_.sources).getOrElse(Set.empty)

    /** Edge list as a DataFrame (out_column, src_table, src_column). */
    def toDF(spark: SparkSession): DataFrame = {
      import spark.implicits._
      outputs.flatMap(o => o.sources.toSeq.sortBy(s => (s.table, s.column))
          .map(s => (o.name, s.table, s.column)))
        .toDF("out_column", "src_table", "src_column")
    }
  }

  /** Lineage of a DataFrame's output columns (walks the analyzed plan —
    * same lifecycle point as the reference's `Batch("LineageTrack")`,
    * `Analyzer.scala:211-213`).
    *
    * `includeControlFlow = true` (opt-in; default DATA-flow only, the
    * reference's semantics) additionally traces PREDICATE edges: a
    * column that survives a `Filter` or a conditioned `Join` also
    * depends on the predicate's source columns — the row's PRESENCE is
    * a function of them even when its value is not.
    */
  def of(df: DataFrame, includeControlFlow: Boolean = false): LineageGraph =
    ofPlan(df.queryExecution.analyzed, includeControlFlow)

  /** Lineage of a SQL statement against the session's current views. */
  def ofSql(spark: SparkSession, sql: String,
      includeControlFlow: Boolean = false): LineageGraph =
    of(spark.sql(sql), includeControlFlow)

  /** Lineage of an already-analyzed plan: each output's hop-tree
    * leaves.  An output the walk derives nothing for (a typed map's
    * object column) has no sources.
    */
  def ofPlan(plan: LogicalPlan,
      includeControlFlow: Boolean = false): LineageGraph = {
    val m = hopWalk(plan, None, Map.empty, includeControlFlow)
    LineageGraph(plan.output.map(a => OutputLineage(a.name,
      m.get(a.exprId).fold(Set.empty[SourceColumn])(_.sources))))
  }

  /** Best-effort identity of a leaf relation (mirrors the reference's
    * `RelationColumn.source`: `ResolveHiveRelation.scala:18` captures
    * `catalogTable`; we also capture file paths and v2 table names).
    */
  private def leafName(leaf: LeafNode): String = leaf match {
    case lr: LogicalRelation =>
      lr.catalogTable.map(_.identifier.unquotedString).getOrElse(lr.relation match {
        // a file relation's toString is just its format ("parquet") —
        // the root path is the actual table identity
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.headOption.map(_.toString)
            .getOrElse(fs.toString.takeWhile(_ != '['))
        case rel => rel.toString.takeWhile(_ != '[')
      })
    case dsv2: DataSourceV2Relation => dsv2.table.name()
    case lcr: LocalRelation => "local"
    // streaming leaves (the reference's lineage silently no-ops on
    // streaming plans): name them by their source so a readStream →
    // transform plan traces exactly like its batch twin
    case sr: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
      sr.sourceName
    case srv2: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 =>
      srv2.sourceName
    // RUNNING-query leaves (MicroBatchExecution.logicalPlan rewrites the
    // pre-start relations above into these): name v1 sources by the
    // source's own identity string (FileStreamSource[path], rate, …) and
    // v2 scan relations by their table
    case ser: org.apache.spark.sql.execution.streaming.runtime.StreamingExecutionRelation =>
      ser.source.toString
    case sv2: org.apache.spark.sql.execution.datasources.v2.StreamingDataSourceV2ScanRelation =>
      scala.util.Try(sv2.relation.table.name()).getOrElse(sv2.stream.toString)
    case other => other.nodeName
  }

  /** Storage location of a leaf, for the SINK-side registry splice
    * ([[SinkLineage]]): a catalog table's `location`, else a file
    * relation's root path, a v2 relation's table name — normalized the
    * same way the write capture normalized them.
    */
  private def leafLocation(leaf: LeafNode): Option[String] = (leaf match {
    case lr: LogicalRelation =>
      lr.catalogTable.flatMap(_.storage.locationUri).map(_.toString)
        .orElse(lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.headOption.map(_.toString)
          case _ => None
        })
    case h: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
      h.tableMeta.storage.locationUri.map(_.toString)
    case d: DataSourceV2Relation => Some(d.table.name())
    case _ => None
  }).map(SinkLineage.normalizeId)

  // ──────────────────── hop-level derivation DAG ────────────────────
  //
  // The hop view preserves every intermediate named derivation — the
  // structure the reference keeps as `Column extends TreeNode[Column]`
  // (`catalyst/lineage/Column.scala:23`), one `ExpressionColumn`
  // (`ExpressionColumn.scala:22`) per deriving expression with
  // `RelationColumn` leaves.  LineageGraph flattens it to each output's
  // leaf-source closure.  Differences, by design:
  //  - pass-through attributes are NOT hops (an untouched column
  //    flowing through a node derives nothing; a RENAME is a hop);
  //  - the DAG is immutable and shared (same sub-derivation feeding
  //    two outputs is one node), so plan copies can't lose it;
  //  - a lineage-erasing checkpoint or table write splices in the
  //    registered pre-materialization tree ([[LineageRegistry]]); a
  //    captured column that derived from nothing is a childless
  //    "checkpoint" hop.

  /** One node of a column's derivation tree. */
  sealed trait HopNode {
    /** One-line description (the reference's `ExpressionColumn.toString`). */
    def label: String
    def children: Seq[HopNode]

    /** Leaf source columns of this derivation.  Memoized: a sub-DAG
      * shared by many outputs unions its leaves once.
      */
    lazy val sources: Set[SourceColumn] = this match {
      case LeafHop(source) => Set(source)
      case _ => children.foldLeft(Set.empty[SourceColumn])(_ ++ _.sources)
    }

    /** Nested rendering of the derivation, reference
      * `lineageChildren(i).treeString` style
      * (`examples/.../SparkLineageExample.scala:58`).
      */
    final def treeString: String = {
      val sb = new StringBuilder
      def go(n: HopNode, depth: Int): Unit = {
        if (depth > 0) sb.append("  " * (depth - 1)).append("+- ")
        sb.append(n.label).append('\n')
        n.children.foreach(go(_, depth + 1))
      }
      go(this, 0)
      sb.result()
    }
  }

  /** A column produced by expression `exprSql` at plan node `node`. */
  final case class DerivedHop(name: String, exprSql: String, node: String,
      children: Seq[HopNode]) extends HopNode {
    def label: String = s"$name := $exprSql [$node]"
  }

  /** A physical leaf column (the reference's `RelationColumn`). */
  final case class LeafHop(source: SourceColumn) extends HopNode {
    def label: String = source.toString
    def children: Seq[HopNode] = Nil
  }

  /** Derivation trees of a frame's output columns, in output order. */
  def hopsOf(df: DataFrame): Seq[(String, HopNode)] =
    hopsOfPlan(df.queryExecution.analyzed)

  /** Derivation trees of an analyzed plan's output columns. */
  def hopsOfPlan(plan: LogicalPlan): Seq[(String, HopNode)] = {
    val m = hopWalk(plan, None, Map.empty, cf = false)
    plan.output.map(a => a.name -> m.getOrElse(a.exprId,
      LeafHop(SourceColumn("unknown", a.name))))
  }

  /** Output ExprId → hop tree, for [[LineageRegistry.capture]]. */
  private[lineage] def outputHops(plan: LogicalPlan)
      : Map[ExprId, HopNode] = {
    val m = hopWalk(plan, None, Map.empty, cf = false)
    plan.output.flatMap(a => m.get(a.exprId).map(a.exprId -> _)).toMap
  }

  /** Rendered derivation tree of one output column. */
  def hopTree(df: DataFrame, column: String): String =
    hopsOf(df).collectFirst { case (n, h) if n == column => h.treeString }
      .getOrElse(s"<no such output column: $column>")

  /** Flat hop edge list, deduplicated:
    * (out_column, deriving expression sql, plan node, input label) —
    * input is the upstream hop's column name, a `table.column` leaf, or
    * empty for reference-free derivations (literals, count(*)).
    */
  def hopEdges(df: DataFrame): Seq[(String, String, String, String)] = {
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[HopNode, java.lang.Boolean]())
    val out = Seq.newBuilder[(String, String, String, String)]
    def go(n: HopNode): Unit = if (visited.add(n)) n match {
      case d: DerivedHop =>
        if (d.children.isEmpty) out += ((d.name, d.exprSql, d.node, ""))
        d.children.foreach { c =>
          val lbl = c match {
            case dc: DerivedHop => dc.name
            case lf: LeafHop => lf.source.toString
          }
          out += ((d.name, d.exprSql, d.node, lbl))
        }
        d.children.foreach(go)
      case _ => ()
    }
    hopsOf(df).foreach { case (_, n) => go(n) }
    out.result().distinct
  }

  /** Robust SQL text of a deriving expression. */
  private def sqlOf(e: Expression): String =
    scala.util.Try(e.sql).getOrElse(e.toString)

  /** CTE context: def id → (def output, def hop map). */
  private type HopCtx = Map[Long, (Seq[Attribute], Map[ExprId, HopNode])]

  /** The lineage walk: ExprId → hop tree for every attribute visible at
    * `plan`'s output (plus intermediates).  `cf` (control flow) adds
    * predicate edges: a column surviving a `Filter` or a conditioned
    * `Join` is wrapped in a hop whose extra children are the
    * predicate's inputs (SURVEY §7 hard-part (a): the reference leaves
    * these edges undefined).  Renderings always walk with `cf = false`.
    */
  private def hopWalk(plan: LogicalPlan, alias: Option[String], ctes: HopCtx,
      cf: Boolean): Map[ExprId, HopNode] = plan match {

    case s: SubqueryAlias =>
      // name the subtree after the alias only if its leaves are anonymous
      hopWalk(s.child, Some(s.alias), ctes, cf)

    case w: WithCTE =>
      // walk defs first (later defs may reference earlier ones)
      val defCtx = w.cteDefs.foldLeft(ctes) { (ctx, d) =>
        ctx + (d.id -> (d.child.output, hopWalk(d.child, None, ctx, cf)))
      }
      hopWalk(w.plan, alias, defCtx, cf)

    case r: CTERelationRef if ctes.contains(r.cteId) =>
      // positional mapping from the ref's fresh attribute ids to the
      // def's hops (same algorithm as Union pairing)
      val (defOut, defMap) = ctes(r.cteId)
      r.output.zip(defOut).flatMap { case (refAttr, defAttr) =>
        defMap.get(defAttr.exprId).map(refAttr.exprId -> _)
      }.toMap

    case l: LeafNode =>
      // a checkpointed ops pipeline surfaces as a LogicalRDD leaf, a
      // table that a captured WRITE produced as a relation leaf: splice
      // the registered pre-materialization hop tree in instead of
      // naming the leaf a source, so lineage composes across
      // materializations.  A checkpoint's trees are found by the leaf's
      // RDD object and output position, which a self-join's
      // re-instancing (fresh ExprIds) keeps; a write's by the leaf's
      // storage location and column name.
      val table = alias.getOrElse(leafName(l))
      val checkpoint = l match {
        case r: org.apache.spark.sql.execution.LogicalRDD =>
          LineageRegistry.checkpointHops(r.rdd)
        case _ => None
      }
      val written = leafLocation(l).flatMap(LineageRegistry.writeHops)
      l.output.zipWithIndex.map { case (a, i) =>
        a.exprId -> checkpoint.flatMap(_.lift(i))
          .orElse(written.flatMap(_.get(a.name)))
          .getOrElse(LeafHop(SourceColumn(table, a.name)))
      }.toMap

    case p: Project =>
      val child = hopChildren(p, alias, ctes, cf)
      child ++ namedHops(p.projectList, "Project", child, cf)

    case a: Aggregate =>
      val child = hopChildren(a, alias, ctes, cf)
      child ++ namedHops(a.aggregateExpressions, "Aggregate", child, cf)

    case w: Window =>
      val child = hopChildren(w, alias, ctes, cf)
      child ++ namedHops(w.windowExpressions, "Window", child, cf)

    case g: Generate =>
      val child = hopChildren(g, alias, ctes, cf)
      val kids = exprHopInputs(g.generator, child, cf)
      val sql = sqlOf(g.generator)
      child ++ g.generatorOutput.map(a =>
        a.exprId -> (DerivedHop(a.name, sql, "Generate", kids): HopNode)).toMap

    // control-flow mode: a predicate's inputs feed every surviving
    // column — the row's presence is derived from them
    case f: Filter if cf =>
      guarded(f, f.condition, hopChildren(f, alias, ctes, cf))

    case j: Join if cf && j.condition.isDefined =>
      guarded(j, j.condition.get, hopChildren(j, alias, ctes, cf))

    case u: Union =>
      // n-ary positional pairing (reference: binary-only UnionColumn zip,
      // ResolveLineage.scala:96-107)
      val childMaps = u.children.map(c => (c, hopWalk(c, alias, ctes, cf)))
      u.output.zipWithIndex.map { case (out, i) =>
        out.exprId -> (DerivedHop(out.name, "union", "Union",
          childMaps.flatMap { case (c, m) =>
            m.get(c.output(i).exprId)
          }): HopNode)
      }.toMap

    case e: Expand =>
      val child = hopChildren(e, alias, ctes, cf)
      child ++ e.output.zipWithIndex.map { case (out, i) =>
        out.exprId -> (DerivedHop(out.name, "expand", "Expand",
          dedupIdentity(e.projections.flatMap(proj =>
            exprHopInputs(proj(i), child, cf)))): HopNode)
      }.toMap

    // row-level rewrite assembly (UPDATE / MERGE INTO → ReplaceData):
    // each output position is produced by one expression per merge
    // instruction — MergeRows.outputs is positionally aligned with
    // MergeRows.output — so one hop per position gathers every
    // instruction's expression for it (the Expand device).  Without
    // this case the node's freshly-produced attrs resolve to nothing
    // and a MERGE target's sink lineage silently loses the merge source.
    case m: MergeRows =>
      val child = hopChildren(m, alias, ctes, cf)
      child ++ m.output.zipWithIndex.map { case (out, i) =>
        out.exprId -> (DerivedHop(out.name, "merge", "MergeRows",
          dedupIdentity(m.outputs.flatMap(row =>
            if (i < row.size) exprHopInputs(row(i), child, cf)
            else Nil))): HopNode)
      }.toMap

    case _ =>
      // Join, Filter, Sort, Limit, Distinct, Repartition, subquery glue…:
      // output attributes pass through from children unchanged.
      hopChildren(plan, alias, ctes, cf)
  }

  private def hopChildren(plan: LogicalPlan, alias: Option[String],
      ctes: HopCtx, cf: Boolean): Map[ExprId, HopNode] =
    plan.children.map(hopWalk(_, alias match {
      case Some(_) if plan.children.sizeIs == 1 => alias
      case _ => None
    }, ctes, cf)).foldLeft(Map.empty[ExprId, HopNode])(_ ++ _)

  /** Control-flow wrap: each surviving column's hop gains the
    * predicate's inputs as extra children. */
  private def guarded(node: LogicalPlan, predicate: Expression,
      child: Map[ExprId, HopNode]): Map[ExprId, HopNode] = {
    val pred = exprHopInputs(predicate, child, cf = true)
    val sql = sqlOf(predicate)
    child ++ node.output.flatMap(a => child.get(a.exprId).map(h =>
      a.exprId -> (DerivedHop(a.name, sql, node.nodeName, h +: pred): HopNode)))
  }

  /** One hop per DERIVING named expression: an alias records a hop
    * (renames included); a bare attribute passes its node through.
    */
  private def namedHops(exprs: Seq[NamedExpression], node: String,
      child: Map[ExprId, HopNode], cf: Boolean): Map[ExprId, HopNode] =
    exprs.flatMap {
      case a: Attribute =>
        child.get(a.exprId).map(a.exprId -> _)
      case al: Alias =>
        Some(al.exprId -> (DerivedHop(al.name, sqlOf(al.child), node,
          exprHopInputs(al.child, child, cf)): HopNode))
      case ne =>
        Some(ne.exprId -> (DerivedHop(ne.name, sqlOf(ne), node,
          exprHopInputs(ne, child, cf)): HopNode))
    }.toMap

  /** Upstream hop nodes an expression reads: its attribute references
    * (name-ordered for determinism) plus subquery plan outputs (the
    * reference skips subquery expressions entirely).
    */
  private def exprHopInputs(e: Expression, child: Map[ExprId, HopNode],
      cf: Boolean): Seq[HopNode] = {
    val direct = e.references.toSeq.sortBy(a => (a.name, a.exprId.id))
      .flatMap(a => child.get(a.exprId))
    val viaSubquery = e.collect {
      case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        val m = hopWalk(sq.plan, None, Map.empty, cf)
        sq.plan.output.flatMap(a => m.get(a.exprId))
    }.flatten
    dedupIdentity(direct ++ viaSubquery)
  }

  private def dedupIdentity(ns: Seq[HopNode]): Seq[HopNode] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[HopNode, java.lang.Boolean]())
    ns.filter(seen.add)
  }
}
