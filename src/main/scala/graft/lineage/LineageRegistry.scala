package graft.lineage

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

import ColumnLineage.{DerivedHop, HopNode, SourceColumn}

/** Bridges column lineage across lineage-ERASING materialization
  * points.  Several ops pipelines end in `localCheckpoint` (via
  * [[graft.ops.CacheScope]]) so corpus-sized caches can be released —
  * but a checkpointed frame's plan is a bare `LogicalRDD` leaf, where
  * the reference design (and any post-hoc plan walk) loses the trail.
  *
  * At the moment of checkpointing, the PRE-checkpoint analyzed plan is
  * still in hand: [[capture]] walks its output columns' hop trees and
  * records them under the checkpoint's RDD object, in output order
  * (`localCheckpoint` keeps names and order, and `LogicalRDD.newInstance`
  * keeps the RDD, so a self-joined copy finds them too).
  * [[ColumnLineage]] consults the registry at every leaf, so
  * `ColumnLineage.of(Dedup.minhashPairs(...))` traces `jaccard` all the
  * way to `documents.text` even though the physical plan starts at an
  * RDD scan.  Chained checkpoints compose naturally — each round's
  * capture walks a plan whose leaves splice the previous round's trees.
  *
  * Each piece of state is keyed by what it describes: a checkpoint's
  * hops live exactly as long as its RDD, and a write's hops sit under
  * the storage location that the write filled ([[SinkLineage]]).  No
  * key is reused across SparkContexts or warehouses, so no entry can
  * attach to a stranger's relation, and nothing needs a cap.
  */
object LineageRegistry {

  // Checkpoint RDD → its columns' hop trees in output order.  RDD
  // overrides neither equals nor hashCode, so this is an identity map.
  // A HopNode holds only strings and children, so no value pins its
  // key: an entry goes once no plan references its RDD.
  private val byRdd = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[RDD[_], IndexedSeq[HopNode]]())

  // Storage location (a path, or a v2 table's catalog-qualified name)
  // → written column → hop tree of the writing query.
  private val byLocation =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, HopNode]]()

  private val announced =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Run one lineage capture.  Never throws: a capture must not be able
    * to fail the operator, write or sink that calls it.  The first
    * failure at each `site` is announced on stderr; later ones are not.
    */
  private[lineage] def guarded(site: String)(body: => Unit): Unit =
    try body catch {
      case e @ scala.util.control.NonFatal(_) =>
        if (announced.add(site))
          Console.err.println(s"[lineage] $site capture failed: " +
            s"${e.getClass.getName}: ${e.getMessage}")
    }

  /** Registered hop of a captured column that derives from nothing (a
    * count(1)-derived or typed-map column): no sources by the engine's
    * convention.  Registering it keeps the downstream walk from naming
    * the materialized leaf itself as a phantom source. */
  private def emptyHop(name: String, node: String): HopNode =
    DerivedHop(name, "checkpoint", node, Nil)

  /** Walk `pre`'s output lineage and register it under the RDD of the
    * `LogicalRDD` that `post` (its checkpointed plan) scans.
    */
  def capture(pre: LogicalPlan, post: LogicalPlan): Unit =
    guarded("checkpoint") {
      post.collectFirst { case r: LogicalRDD => r }.foreach { r =>
        val hops = ColumnLineage.outputHops(pre)
        byRdd.put(r.rdd, post.output.zip(pre.output).map { case (p, b) =>
          hops.getOrElse(b.exprId, emptyHop(p.name, r.nodeName))
        }.toIndexedSeq)
      }
    }

  /** Record the lineage of a WRITE to `location`: `columnNames` are the
    * written table's column names (positionally aligned with
    * `query.output` — Spark projects the query to table order before
    * any insert).  An append joins each column's previous hop under an
    * "append" hop (the contents now derive from both); an overwrite or
    * CTAS replaces the location's whole entry.
    */
  def captureWrite(location: String, columnNames: Seq[String],
      query: LogicalPlan, append: Boolean): Unit =
    guarded("write") {
      val hops = ColumnLineage.outputHops(query)
      val cols = columnNames.zip(query.output).map { case (name, attr) =>
        name -> hops.getOrElse(attr.exprId, emptyHop(name, "Write"))
      }.toMap
      if (append) byLocation.merge(location, cols, (prev, now) =>
        prev ++ now.map { case (name, h) =>
          name -> prev.get(name).fold(h)(p =>
            DerivedHop(name, "append", "Write", Seq(p, h)))
        })
      else byLocation.put(location, cols)
    }

  /** Drop one location's recorded lineage (a DROP TABLE or an
    * overwrite by an uninstrumented engine invalidates it). */
  def forgetTable(location: String): Unit = byLocation.remove(location)

  /** Recorded write lineage (leaf sources) for a (location, column). */
  def lookupTable(location: String, column: String): Option[Set[SourceColumn]] =
    writeHops(location).flatMap(_.get(column)).map(_.sources)

  /** Recorded write hop trees of a location, by column. */
  private[lineage] def writeHops(location: String): Option[Map[String, HopNode]] =
    Option(byLocation.get(location))

  /** Registered pre-checkpoint hop trees of a checkpoint RDD, in output
    * order. */
  private[lineage] def checkpointHops(rdd: RDD[_]): Option[IndexedSeq[HopNode]] =
    Option(byRdd.get(rdd))
}
