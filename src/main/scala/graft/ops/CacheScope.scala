package graft.ops

import org.apache.spark.sql.DataFrame

/** Scopes operator-internal caches to the operator call.
  *
  * Several ops persist an intermediate (shingle sets, signatures,
  * n-gram tables) that feeds multiple plan branches.  Returning a lazy
  * result would pin those blocks until some unknowable caller action,
  * so instead the final result — always narrow rows (pairs, scores,
  * assignments), orders of magnitude smaller than the corpus-sized
  * intermediate — is materialized eagerly with `localCheckpoint` and
  * the intermediates are released immediately.  A long-lived session
  * running hundreds of queries then never accumulates operator-private
  * blocks (the checkpointed result itself is reclaimed by the
  * ContextCleaner once the returned DataFrame is unreachable).
  *
  * Both entry points always checkpoint and capture the pre-checkpoint
  * lineage, so `graft.PlanDump` shows the plan that actually runs,
  * checkpoint scans included.
  */
private[graft] object CacheScope {
  /** Materialize `result`, then unpersist every cache it was built from.
    * The pre-checkpoint lineage is captured into
    * [[graft.lineage.LineageRegistry]] first, under the checkpoint's RDD
    * object, so column lineage traces THROUGH the checkpoint instead of
    * stopping at the RDD scan; the entry goes when that RDD does. */
  def releasing(result: DataFrame, caches: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    graft.lineage.LineageRegistry.capture(
      result.queryExecution.analyzed, out.queryExecution.analyzed)
    caches.foreach(_.unpersist(false))
    out
  }

  /** A lineage-captured `localCheckpoint` with no cache release — for
    * iterative ops that cut plan lineage each round (PageRank-style
    * loops): the registry capture, keyed by each round's RDD object,
    * lets column lineage chain through every round's LogicalRDD instead
    * of dead-ending at the first.
    * `eager = false` keeps the per-round lazy-materialization contract
    * (capture only reads the analyzed plans, never runs a job). */
  def traced(result: DataFrame, eager: Boolean = true): DataFrame = {
    val out = result.localCheckpoint(eager)
    graft.lineage.LineageRegistry.capture(
      result.queryExecution.analyzed, out.queryExecution.analyzed)
    out
  }
}
