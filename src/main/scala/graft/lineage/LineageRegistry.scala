package graft.lineage

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import ColumnLineage.{DerivedHop, HopNode, SourceColumn}

/** Bridges column lineage across lineage-ERASING materialization
  * points.  Several ops pipelines end in `localCheckpoint` (via
  * [[graft.ops.CacheScope]]) so corpus-sized caches can be released —
  * but a checkpointed frame's plan is a bare `LogicalRDD` leaf, where
  * the reference design (and any post-hoc plan walk) loses the trail.
  *
  * At the moment of checkpointing, the PRE-checkpoint analyzed plan is
  * still in hand: [[capture]] walks its output columns' hop trees and
  * records them keyed by the POST-checkpoint output ExprIds (paired
  * positionally — names and order are preserved by `localCheckpoint`).
  * [[ColumnLineage]] consults the registry at every leaf attribute, so
  * `ColumnLineage.of(Dedup.minhashPairs(...))` traces `jaccard` all the
  * way to `documents.text` even though the physical plan starts at an
  * RDD scan.  Chained checkpoints compose naturally — each round's
  * capture walks a plan whose leaves splice the previous round's trees.
  *
  * One immutable, shared hop tree per key; source sets are its leaves.
  * Driver-side plan metadata only — a few dozen entries per checkpoint,
  * capped at [[MaxEntries]] so a pathological loop cannot leak; a cap
  * clear is announced on stderr.
  */
object LineageRegistry {

  private val MaxEntries = 65536

  private val byExprId =
    new java.util.concurrent.ConcurrentHashMap[Long, HopNode]()
  // Fallback identity for SELF-JOINED checkpoints: analysis
  // deduplication replaces one side's relation with newInstance() —
  // same underlying RDD, FRESH output ExprIds — so the ExprId key
  // misses.  The (rdd id, column name) pair survives the re-instancing.
  private val byRddCol =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), HopNode]()
  // SINK-side lineage: (written table identity, column name) → hop tree
  // of the WRITING query, captured by [[SinkLineage]] at `df.write` /
  // `INSERT INTO` / CTAS time.  A later read of that table splices it
  // in, so column lineage composes table-to-table across
  // materializations — the same device as the checkpoint maps, keyed
  // by durable table identity instead of runtime ExprIds.
  private val byTableCol =
    new java.util.concurrent.ConcurrentHashMap[(String, String), HopNode]()

  /** Clear `maps` together once any of them passes [[MaxEntries]],
    * with one warning naming the map that overflowed. */
  private def capped(
      maps: (String, java.util.concurrent.ConcurrentHashMap[_, _])*): Unit =
    maps.find(_._2.size() > MaxEntries).foreach { case (name, m) =>
      System.err.println(s"[lineage] registry map $name holds ${m.size()} " +
        s"entries (cap $MaxEntries); clearing ${maps.map(_._1).mkString(", ")}")
      maps.foreach(_._2.clear())
    }

  /** Registered hop of a captured column that derives from nothing (a
    * count(1)-derived or typed-map column): no sources by the engine's
    * convention.  Registering it keeps the downstream walk from naming
    * the materialized leaf itself as a phantom source. */
  private def emptyHop(name: String, node: String): HopNode =
    DerivedHop(name, "checkpoint", node, Nil)

  /** Walk `pre`'s output lineage and register it under `post`'s
    * output ExprIds (and the checkpoint RDD's (id, column) identity).
    * Never throws: lineage capture must not be able to fail the
    * operator that calls it.
    */
  def capture(pre: LogicalPlan, post: LogicalPlan): Unit =
    try {
      val hops = ColumnLineage.outputHops(pre)
      capped("byExprId" -> byExprId, "byRddCol" -> byRddCol)
      val rdd = post.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l
      }
      post.output.zip(pre.output).foreach { case (p, b) =>
        val h = hops.getOrElse(b.exprId,
          emptyHop(p.name, rdd.fold("LogicalRDD")(_.nodeName)))
        byExprId.put(p.exprId.id, h)
        rdd.foreach(r => byRddCol.put((r.rdd.id, p.name), h))
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Record the lineage of a WRITE: `columnNames` are the written
    * table's column names (positionally aligned with `query.output` —
    * Spark projects the query to table order before any insert).
    * Append-mode writes join what the table already carried under an
    * "append" hop (the table's contents now derive from both);
    * overwrite/CTAS replaces.  Never throws.
    */
  def captureWrite(table: String, columnNames: Seq[String],
      query: LogicalPlan, append: Boolean): Unit =
    try {
      val hops = ColumnLineage.outputHops(query)
      capped("byTableCol" -> byTableCol)
      columnNames.zip(query.output).foreach { case (name, attr) =>
        val key = (table, name)
        val h = hops.getOrElse(attr.exprId, emptyHop(name, "Write"))
        val prev = if (append) Option(byTableCol.get(key)) else None
        byTableCol.put(key, prev.fold(h)(p =>
          DerivedHop(name, "append", "Write", Seq(p, h))))
      }
    } catch { case scala.util.control.NonFatal(_) => }

  /** Drop one written table's recorded lineage (a DROP TABLE or an
    * overwrite by an uninstrumented engine invalidates it). */
  def forgetTable(table: String): Unit = {
    import scala.jdk.CollectionConverters._
    byTableCol.keySet().asScala.filter(_._1 == table)
      .foreach(byTableCol.remove)
  }

  /** Recorded write lineage (leaf sources) for a (table identity, column). */
  def lookupTable(table: String, column: String): Option[Set[SourceColumn]] =
    lookupTableHop(table, column).map(_.sources)

  /** Recorded write hop tree for a (table identity, column). */
  private[lineage] def lookupTableHop(table: String, column: String)
      : Option[HopNode] =
    Option(byTableCol.get((table, column)))

  /** Registered pre-checkpoint hop tree for an output attribute, if this
    * ExprId was ever the output of a captured checkpoint. */
  private[lineage] def lookupHop(
      exprId: org.apache.spark.sql.catalyst.expressions.ExprId)
      : Option[HopNode] =
    Option(byExprId.get(exprId.id))

  /** Fallback lookup by the checkpoint RDD's identity and column name
    * (re-instanced self-join branches). */
  private[lineage] def lookupHopByRdd(rddId: Int, column: String)
      : Option[HopNode] =
    Option(byRddCol.get((rddId, column)))

  /** Test hook. */
  private[graft] def clear(): Unit = {
    byExprId.clear(); byRddCol.clear(); byTableCol.clear()
  }
}
