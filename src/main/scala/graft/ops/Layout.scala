package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.morton2

/** Multi-dimensional data layout for write-time clustering.
  *
  * `zorder` range-partitions and locally sorts by the 2-D Morton code
  * of two integer dimensions, so a downstream write produces files
  * whose per-file (min, max) ranges are tight in BOTH dimensions —
  * a 2-D range predicate then prunes most files from their footer
  * stats alone.  At 100 TB this is write-side work that buys every
  * future scan; the curve math itself stays in one codegen'd
  * expression ([[graft.functions.InterleaveBits16]]), the movement is
  * a single range exchange (one shuffle, same cost class as any
  * repartition).
  */
object Layout {

  /** Morton code of the two dimension columns (low 16 bits each). */
  def zcode(x: Column, y: Column): Column = morton2(x, y)

  /** Cluster `df` for writing: range-partition into `buckets` by the
    * Morton code of (x, y), sorted within each partition.  The helper
    * column is dropped — layout is a side effect of row order, not
    * schema.
    */
  def zorder(df: DataFrame, x: Column, y: Column, buckets: Int): DataFrame =
    df.withColumn("__z", zcode(x, y))
      .repartitionByRange(buckets, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")

  /** Input-skew guard (optimization guide §2.5: "one huge unsplittable
    * file … repartition immediately after the read").  A monolithic
    * input — one file with one parquet row group, the shape the test
    * corpus ships — pins the whole scan, and every fused per-row
    * kernel above it (MinHash, n-gram counting, cosine, JSON parse),
    * to ONE task regardless of core count.  When the frame's planned
    * scan parallelism is below the session's default parallelism, deal
    * rows round-robin across it; with many files / row groups (the
    * production shape at any real scale) the planned parallelism
    * already exceeds the core count and NO exchange is added — the
    * guard adapts to the input layout, it is not a local-mode constant.
    *
    * Apply it only to narrow projections feeding ORDER-INSENSITIVE
    * consumers (aggregations, hash-keyed selection, integer-exact
    * kernels) — the same tolerance the battery's partitioning-
    * invariance contract (InvarianceSpec) already demands of every
    * operator.  Round-robin with Spark's sort-before-repartition
    * (default on) is deterministic under retries.
    *
    * Operators never call it on their own input; the caller wraps the
    * narrow projection it passes in, because only the caller knows
    * whether that input is already capped small.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = fanOutTarget(df)
    if (target > df.rdd.getNumPartitions) df.repartition(target) else df
  }

  /** Partition target for [[fanOut]]: proportional to the frame's
    * estimated bytes (one task per ~48 KB of source data — measured
    * r16 sweet spot for the codegen text/embedding kernels at this
    * corpus scale: below it per-task scheduling + shuffle-block
    * overhead dominates, above it the kernel serializes), capped at
    * the session's default parallelism.  Both inputs adapt: more data
    * or more cores move the target, nothing is a local[32] constant.
    */
  private def fanOutTarget(df: DataFrame): Int = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes =
      // UNKNOWN stats (defaultSizeInBytes = Long.MaxValue — streaming
      // micro-batch frames, opaque sources) mean "do not repartition":
      // treating unknown as huge added a full-parallelism exchange to
      // every tiny micro-batch (r16 ADVICE).  The guard exists for
      // provably-monolithic scans; when the size is unknowable the
      // exchange is a gamble, not a measurement.
      if (bytes >= BigInt(Long.MaxValue)) 1L
      else math.max(1L, bytes.toLong / (48L * 1024))
    math.min(dp.toLong, byBytes).toInt
  }

  /** Hilbert index of the two dimension columns at `bits` bits/dim. */
  def hcode(x: Column, y: Column, bits: Int = 16): Column =
    graft.functions.hilbert2(x, y, bits)

  /** Hilbert-clustered layout: same movement as [[zorder]] (one range
    * exchange + local sort) but ordered by the Hilbert index, whose
    * consecutive cells are always ADJACENT — no Morton jumps across
    * the square — so the per-file bounding boxes a 2-D predicate
    * prunes against are strictly tighter at the same file count.
    */
  def hilbertOrder(df: DataFrame, x: Column, y: Column, buckets: Int,
      bits: Int = 16): DataFrame =
    df.withColumn("__h", hcode(x, y, bits))
      .repartitionByRange(buckets, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
}
