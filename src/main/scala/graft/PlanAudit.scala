package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/** Generates `PLANS.md` — the committed physical-plan audit of the
  * headline operators.  Regenerate after plan-affecting changes with:
  *
  * {{{ sbt "runMain graft.PlanAudit" }}}
  *
  * The per-operator NOTES live here (they are claims about why each
  * plan is the one you'd want at 100 TB); the plan trees and the
  * extracted facts — scan pushdown, read schemas, join strategies,
  * exchange counts, whole-stage-codegen spans — are re-extracted from
  * the live plans on every run, so the artifact cannot silently drift
  * from the code.  AQE is disabled for the dump so the trees are the
  * static plans the lints assert (AQE only re-plans exchanges/joins at
  * runtime, and `PlanLintSpec.physicalPlan` documents that boundary).
  */
object PlanAudit {

  private case class Entry(name: String, note: String)

  private val entries = Seq(
    Entry("q01_pricing_summary",
      "One parquet scan, six aggregates over two group keys: the " +
        "partial HashAggregate runs below the single hash exchange " +
        "(map-side combine), money sums run in DECIMAL(12,2), and the " +
        "scan reads only the 7 referenced columns of 16."),
    Entry("q03_shipping_priority",
      "Dims broadcast: customer filters to one segment and orders " +
        "prune by date BEFORE the joins, so both build sides are " +
        "broadcast hash joins against the streamed lineitem scan — no " +
        "fact-side shuffle until the final aggregation."),
    Entry("q09_product_profit",
      "The 6-table join tree: part filters by name pattern at the " +
        "scan, suppliers/nation broadcast, and the two fact tables " +
        "(lineitem, partsupp) meet on a shuffled key join only after " +
        "the selective dims have cut the probe side."),
    Entry("q18_large_orders",
      "Fact-joins-fact: the having-sum subquery aggregates lineitem " +
        "first, semi-joins the key set back, and the final " +
        "lineitem-orders join is sort-merge on the shuffled key — the " +
        "shape that survives when neither side fits a broadcast."),
    Entry("q_topk",
      "Global top-k is TakeOrderedAndProject — per-partition bounded " +
        "heaps merged on the driver, never a global sort."),
    Entry("q_topk_per_key",
      "Per-key top-k through the custom TopKPerKey plan: a bounded " +
        "heap per key inside each partition, partial heaps merged " +
        "after one hash exchange — no WindowExec, no per-key sort, " +
        "state bounded by k per key."),
    Entry("q_dedup_minhash",
      "MinHash-LSH near-dup: the fused MinHashBuckets codegen " +
        "expression emits banded bucket ids in one pass, candidates " +
        "come from a bucket equi-join (shuffle on bucket hash), and " +
        "only candidate pairs pay the exact-Jaccard verify — never an " +
        "all-pairs product."),
    Entry("q_knn_ivf",
      "IVF approximate nearest neighbour: centroids are a " +
        "LocalRelation of k rows (deterministic k-means++ seeding — " +
        "the pool scan is one TakeOrdered by hash), vectors route to " +
        "their nearest centroid via a k-row broadcast cross (never " +
        "data×data), and the candidate join is an EQUI-join on cell " +
        "id — brute force only within probed cells."),
    Entry("q_bm25_topk",
      "Integer micro-nat BM25: term stats aggregate once, the 1-row " +
        "corpus stats broadcast-cross into the idf projection (the " +
        "whitelisted scalar cross), scoring is a hash join on term, " +
        "and ranking is the bounded TopKPerKey heap."),
    Entry("q_dpp_join",
      "Dynamic partition pruning: the dim filter's key set prunes the " +
        "partitioned fact scan at runtime — the scan node carries " +
        "dynamicpruningexpression, so unmatched partitions are never " +
        "read."),
    Entry("q_bucketed_join",
      "Both sides bucketed on the join key at write time, so the key " +
        "shuffle never happens: both scans read `Bucketed: true` with " +
        "no Exchange between scan and join.  Under broadcast-off conf " +
        "the spec asserts the zero-Exchange sort-merge join; at this " +
        "audit's scale the optimizer instead broadcasts the smaller " +
        "bucketed side — either way the fact side never reshuffles on " +
        "the key, and the remaining exchanges belong to the output " +
        "aggregation."),
    Entry("q_skew_salted",
      "Skew-safe aggregation: a deterministic hash salt splits each " +
        "hot key across 32 sub-keys for the first (partial+final) " +
        "aggregation, then a second cheap aggregation folds the salt " +
        "out — no single reducer ever owns a hot key's rows, at the " +
        "cost of one extra exchange over group-count-sized data."),
    Entry("q_range_join",
      "Range join without a nested loop: both sides bin onto interval " +
        "buckets, candidates meet on a bucket EQUI-join, and the exact " +
        "range predicate filters residually — the O(n·m) " +
        "BroadcastNestedLoopJoin a naive BETWEEN join plans never " +
        "appears."),
    Entry("q_asof_join",
      "As-of join without a range join: both sides union-tag into one " +
        "frame and a per-key ordered window carries the latest left " +
        "row forward onto each right row — ONE shuffle on the join " +
        "key, no BETWEEN nested loop, per-key rows bounded by the " +
        "feed contract (the keyedWindowOk bound)."),
    Entry("q_join_shuffle_hash",
      "Shuffled hash join: when the build side is modest but above " +
        "the broadcast threshold, hashing it per partition beats " +
        "sorting BOTH sides — no sort phase on either input, one " +
        "shuffle each (plan-asserted in PlanSpec)."),
    Entry("q_agg_distinct",
      "Multi-distinct aggregation via the Expand rewrite: one pass " +
        "over the input fans each row out per distinct-column group " +
        "and partial aggregates run below the exchange — never one " +
        "shuffle per DISTINCT column."),
    Entry("q_global_rownum",
      "Global row numbering WITHOUT a global window: per-partition " +
        "counts collect (one long per partition), offsets broadcast " +
        "back, and each row adds its partition offset — the " +
        "single-task bottleneck a global WindowExec would create " +
        "never exists."),
    Entry("q_ks_test",
      "Exact ECDF without a global window (the r15 reshape): both " +
        "sides collapse to per-distinct-value counts, full-outer join " +
        "on the value, then BOTH cumulative counts come from ONE " +
        "segmented two-pass scan — range shuffle on the value, " +
        "per-partition local windows keyed by (__pid, segment), " +
        "boundary offsets broadcast back — so the cumulative work is " +
        "partition-bounded even when the column is CONTINUOUS and " +
        "distinct ≈ rows; the old Window.orderBy(value) pinned that " +
        "whole frame to one task."))

  /** Iterative (multi-job) operators: their final plan is a
    * post-checkpoint tail, so the static tree alone says little.  The
    * audit RUNS each gate under a SparkListener and reports the
    * measured job/stage/shuffle profile; the note carries the
    * bounded-rounds rationale (why the loop terminates and what one
    * round shuffles).  These are the bench table's most expensive
    * entries — the shapes a 100 TB reviewer asks about first.
    */
  private val iterEntries = Seq(
    Entry("q_random_walks",
      "Deterministic node2vec-style walks: the per-node inverse-CDF " +
        "edge index is built ONCE (window partitioned by source node, " +
        "outdeg-bounded) as a BINNED 4096-clamp layout and persisted; " +
        "each of the fixed walkLen steps is one equi-join of the " +
        "frontier against that index (shuffle on node id).  Rounds = " +
        "walkLen, a config constant — never data-dependent."),
    Entry("q_suffix_ranks",
      "Prefix doubling seeded at k=32 (string order already encodes " +
        "short prefixes — drops 5 rounds): rounds = ceil(log2(maxLen/32))" +
        " <= 7 under the maxLen<=4096 contract.  One round = lead(k) " +
        "over the per-document position order (bounded by maxLen — " +
        "one hash exchange, replacing the former two-sided " +
        "self-equi-join on (doc, pos+k)) + a global dense rank " +
        "(range-partitioned sort + segmented offsets, no global " +
        "window), then localCheckpoint so lineage stays O(1)."),
    Entry("q_longest_repeat",
      "suffixRanks plus ONE adjacency join: ranked suffixes get a " +
        "global row number (per-partition count offsets, no global " +
        "window) and each suffix joins only its rank-neighbor — " +
        "longest repeat is a max over ADJACENT pairs in suffix order, " +
        "never an all-pairs product; the tail is a bounded " +
        "TakeOrdered(topK)."),
    Entry("q_triangles",
      "Degree-ordered orientation (each edge points low→high degree) " +
        "halves wedge work: wedges come from the oriented edge list " +
        "self-joined on the middle vertex, closures from ONE more " +
        "equi-join against the edge set — O(m^1.5) with two shuffles, " +
        "no cartesian; the scalar max-pair threshold is the one " +
        "whitelisted 1-row cross."),
    Entry("q_kcore",
      "Iterative degree peel to the k-core fixpoint: one round = a " +
        "degree aggregate + a semi-join filter of under-degree " +
        "endpoints, localCheckpoint per round.  Rounds are bounded by " +
        "the graph's peel depth with a LOUD maxIter=30 failure (never " +
        "a silent partial result); convergence is edge-count fixpoint."),
    Entry("q_dup_clusters",
      "Connected components by alternating large-star/small-star " +
        "contraction (Kiveris et al.): one round = two self-equi-joins " +
        "on the vertex key + distinct, checkpoint per round; expected " +
        "O(log n) rounds, loud maxIter=25 bound.  Candidate pairs come " +
        "from the LSH bucket index upstream — the components never see " +
        "an all-pairs product."))

  /** Node counts come from the SIMPLE tree (one line per node; the
    * formatted mode lists every node twice — tree + detail section);
    * pushdown lines come from the detail section where they render in
    * full.  Codegen spans are the distinct `*(N)` stage markers.
    */
  private def facts(simple: String, formatted: String): Seq[String] = {
    val lines = simple.linesIterator.toSeq
    def count(p: String) = lines.count(_.contains(p))
    val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
      "TopKPerKey").map(j => j -> count(j)).filter(_._2 > 0)
    val shuffles = count("Exchange hashpartitioning") +
      count("Exchange rangepartitioning") + count("Exchange SinglePartition")
    val bcasts = count("BroadcastExchange")
    val spans = "\\*\\((\\d+)\\)".r.findAllMatchIn(simple)
      .map(_.group(1)).toSet.size
    val pushed = formatted.linesIterator
      .filter(l => l.contains("PushedFilters: [") && !l.trim.endsWith("[]"))
      .map(_.trim.take(120)).distinct.take(4).toSeq
    val dpp = count("dynamicpruning")
    Seq(
      s"joins: ${if (joins.isEmpty) "none" else joins.map { case (j, n) => s"$j×$n" }.mkString(", ")}",
      s"shuffle exchanges: $shuffles; broadcast exchanges: $bcasts",
      s"whole-stage codegen spans: $spans") ++
      (if (dpp > 0) Seq(s"dynamic partition pruning subqueries: $dpp") else Nil) ++
      pushed.map(p => s"scan pushdown: $p")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    // a fixed shape, independent of SPARK_GRAFT_CPUS, so the committed
    // trees only change when a plan does
    val spark = GraftSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the headline operators\n\n")
    sb.append("Generated by `sbt \"runMain graft.PlanAudit\"` (AQE off for " +
      "static trees; facts re-extracted from live plans each run — see " +
      "`PlanAudit.scala`).  The NOTE states why each plan is the one " +
      "you'd want at 100 TB; `PlanLintSpec`/`PlanSpec` assert the " +
      "load-bearing shapes as regression tests.\n")
    entries.foreach { e =>
      val df = SparkEntry.queries(e.name)(spark, sfDir)
      val qe = df.queryExecution
      val simple = qe.executedPlan.toString
      val formatted = qe.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## ${e.name}\n\n${e.note}\n\n")
      facts(simple, formatted).foreach(f => sb.append(s"- $f\n"))
      val tree = simple.linesIterator.takeWhile(_.nonEmpty).take(40).toSeq
      sb.append("\n```\n").append(tree.mkString("\n"))
      if (simple.linesIterator.size > 40) sb.append("\n… (truncated)")
      sb.append("\n```\n")
    }
    sb.append("\n# Iterative operators — measured execution profile\n\n")
    sb.append("Multi-job pipelines (checkpoint-per-round) whose final " +
      "plan is just the post-checkpoint tail, so each is RUN here under " +
      "a SparkListener: jobs / executed stages / shuffle-map stages / " +
      "shuffle-write volume are live measurements at the audit scale, " +
      "and the note states the bounded-rounds rationale.\n")
    val tally = new Bench.Tally
    spark.sparkContext.addSparkListener(tally)
    iterEntries.foreach { e =>
      val run = Bench.runGate(spark, e.name, sfDir)
        .fold(err => sys.error(s"${e.name}: $err"), identity)
      ListenerBridge.drain(spark.sparkContext)
      val g = tally(e.name)
      val shuffleStages = g.stages.size - g.jobs
      val mb = math.rint(g.total(_.shufWriteB) / 1e4) / 100
      val secs = math.rint(run.secs * 100) / 100
      sb.append(s"\n## ${e.name}\n\n${e.note}\n\n")
      sb.append(s"- measured at `$sfDir`: ${g.jobs} jobs, " +
        s"${g.stages.size} executed stages " +
        s"(~$shuffleStages shuffle-map), $mb MB shuffle write, " +
        s"${run.rows} output rows, $secs s\n")
    }
    spark.sparkContext.removeSparkListener(tally)
    streamingAudit(spark, sfDir, sb)
    Files.write(Paths.get("PLANS.md"),
      sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"wrote PLANS.md (${entries.size + iterEntries.size} batch + " +
      "3 streaming operators)")
    spark.stop()
  }

  /** Streaming analog of the batch audit (the doc a 100 TB operator
    * actually needs for the protocol gates): run the three stateful
    * shapes the `q_stream_*` gates exercise — watermarked
    * stream-stream interval join, watermarked tumbling aggregation,
    * transformWithState on RocksDB — over a 2-file replay
    * (maxFilesPerTrigger=1 ⇒ ≥2 micro-batches), then report PER BATCH
    * the watermark and each state operator's rows-total/updated/removed
    * from the progress events, plus the LAST micro-batch's executed
    * plan filtered to its stateful operators.
    */
  private def streamingAudit(spark: SparkSession, sfDir: String,
      sb: StringBuilder): Unit = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    sb.append("\n# Streaming operators — micro-batch plans, watermarks, state stores\n\n")
    sb.append("Replay = the events table split into 2 parquet files read " +
      "with maxFilesPerTrigger=1 (the protocol-gate device), 4 state " +
      "partitions.  Watermarks and state-store row counts are read from " +
      "the query's progress events; the plan is the final " +
      "IncrementalExecution's executed tree (stateful operators only — " +
      "full trees in the gates' specs).  At 100 TB these numbers are the " +
      "contract: state per key is O(1) longs (tws, agg) or bounded by " +
      "the watermark horizon (join), and eviction happens when the " +
      "watermark passes — visible below as numRowsRemoved > 0.\n")
    val ev = Tables.load(spark, sfDir, "events")
      .filter(col("user_id") % 7 === 0)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val dir = TmpCleanup.tempDir("graft_plan_stream")
    ev.repartition(2).write.mode("overwrite").parquet(dir)
    def stream(): DataFrame = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

    def run(name: String, note: String, build: () => DataFrame,
        outputMode: String, conf: Map[String, String] = Map.empty): Unit =
      GraftSession.withConf(spark,
          (conf + ("spark.sql.shuffle.partitions" -> "4")).toSeq: _*) {
        val viewName = "plan_audit_" +
          name.replaceAll("[^A-Za-z0-9_]", "").take(48)
        val q = build().writeStream.format("memory")
          .queryName(viewName).outputMode(outputMode).start()
        try {
          q.processAllAvailable()
          sb.append(s"\n## $name\n\n$note\n\n")
          q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
            val wm = Option(p.eventTime.get("watermark")).getOrElse("-")
            sb.append(s"- batch ${p.batchId}: ${p.numInputRows} input rows, " +
              s"watermark $wm\n")
            p.stateOperators.foreach { so =>
              sb.append(s"  - state `${so.operatorName}`: " +
                s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
                s"removed=${so.numRowsRemoved}\n")
            }
          }
          graft.lineage.StreamingLineage.lastBatchPhysicalPlan(q).foreach { pl =>
            val stateful = pl.linesIterator.filter(l =>
              l.contains("StateStore") || l.contains("SymmetricHashJoin") ||
                l.contains("TransformWithState") || l.contains("EventTimeWatermark") ||
                l.contains("Dedupe") || l.contains("SessionWindow"))
              .map(_.trim.take(160)).toSeq.distinct
            sb.append("\n```\n").append(stateful.mkString("\n")).append("\n```\n")
          }
        } finally q.stop()
      }

    run("stream_stream_interval_join (q_stream_join shape)",
      "Both sides watermarked; the join buffers each side in a " +
        "symmetric hash state store keyed by user_id and EVICTS rows " +
        "once the watermark passes the interval horizon — state is " +
        "bounded by (watermark lag × input rate), never by stream length.",
      () => {
        val clicks = stream().filter(col("event_type") === "click")
          .withWatermark("ts", "30 minutes")
          .select(col("user_id"), col("ts").as("c_ts"))
        val purchases = stream().filter(col("event_type") === "purchase")
          .withWatermark("ts", "30 minutes")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      }, "append")

    run("watermarked_tumbling_agg (q_stream_tumbling shape)",
      "Partial aggregation below the exchange feeds StateStoreSave; " +
        "append mode emits a window only when the watermark passes its " +
        "end, and the store then drops it (removed > 0) — state is the " +
        "set of OPEN windows, not history.",
      () => stream().withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n")),
      "append")

    run("transform_with_state_rocksdb (q_stream_tws shape)",
      "TransformWithState over the RocksDB provider: one ValueState " +
        "long per event_type (O(1) state per key), updates accumulate " +
        "across batches; the store is the Spark-4 typed-state surface " +
        "the gate drives end-to-end.",
      () => {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        import spark.implicits._
        stream().select(col("event_type"), lit(1L).as("one"))
          .as[(String, Long)]
          .groupByKey(_._1)
          .transformWithState(new graft.streaming.RunningTotalProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF("event_type", "add", "total")
      }, "update",
      Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
  }
}
