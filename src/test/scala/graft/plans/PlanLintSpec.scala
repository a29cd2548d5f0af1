package graft.plans

import graft.{SparkSpec, SparkEntry}

/** Battery-wide plan lint: every gate entry's physical plan is checked
  * for the two anti-patterns that kill 100 TB jobs — cartesian products
  * (quadratic work) and unpartitioned windows (all rows to one task).
  * Entries that use them INTENTIONALLY are whitelisted with the reason;
  * anything new that trips the lint must either fix its plan or argue
  * its way onto the list.
  */
class PlanLintSpec extends SparkSpec {

  /** Entries whose cartesian/BNLJ is the documented point. */
  private val cartesianOk: Set[String] = Set(
    "q_join_cross",          // the cartesian-join coverage entry itself
    "q_join_theta",          // theta join == BroadcastNestedLoop by definition
    "q_dedup_minhash",       // brute-force exact-Jaccard oracle twin (capped subset)
    "q_knn_brute",           // brute-force ANN baseline (broadcast query side)
    "q_matryoshka",          // two brute baselines (full + prefix dims) over the limit-bounded query batch
    "q_knn_label_agree",     // brute kNN baseline over the same limit-bounded query batch
    "q_ranked_overlap",      // two brute baselines (full + prefix dims) over the limit-bounded query batch
    "q_vocab_coverage",      // 1-row total-mass aggregate cross-joined into the limit-bounded top-V frame
    "q_paired_bootstrap",    // 1-row totals x 1-row CI aggregate folded into the single verdict row (the q_bootstrap_ci shape)
    "q_hard_negatives",      // same shape: corpus scan × broadcast 8-query batch
    "q_bitext_margin",       // same shape: corpus side × broadcast 8-probe batch
    "q_skew_report",         // two 1-row aggregates cross-joined into the summary row
    "q_target_encode",       // 1-row global-total broadcast cross-joined into the category table
    "q_k_suppress",          // 1-row max(group_size) div 2 scalar aggregate (Privacy.suppressBelowHalfMax) broadcast-crossed into the sized rows: the q_target_encode class
    "q_ks_test",             // 1-row sample-size aggregate cross-joined into the integer-D max
    "q_ks_continuous",       // same fold, raw-double variant (the reshape's motivating case)
    "q_pr_curve",            // 1-row positives-total aggregate cross-joined into the threshold sweep (the r15 ECDF reshape)
    "q_budget_waterfill",    // three 1-row aggregates (totals/waterline/extras) cross-joined into the config-sized domain frame
    "q_blocking_quality",    // three 1-row aggregates (totals/blocks/capture) cross-joined into the single report row
    "q_retention_fit",       // 1-row week-0 denominator cross-joined into the weeks-bounded curve
    "q_chi_squared",         // contingency grid = |catA| x |catB| marginal cross by definition
    "q_knn_ivf", "q_knn_quantized", "q_knn_pq",
    "q_knn_ivfpq",           // recall twins embed the brute baseline
    "q_kmeans",              // broadcast-centroid distance: scalar-sized right side
    "q_dedup_minhash_recall",
    "q_dedup_simhash",
    "q_sketch_theta", "q_sketch_hll_union", // sketch-to-scalar comparisons
    "q_stat_freqitems",      // support-envelope crossJoin of two scalar aggregates
    "q_sample_seeded",       // scalar × scalar envelope
    "qds_q28_six_bands",     // six scalar aggregates cross-joined into one row
    "qds_q61_promo_ratio", "qds_q83_tri_slices", "qds_q90_am_pm", // scalar ratios
    "q_mixture_sample", // scalar-threshold joins
    "q_drift_psi", // scalar totals cross-joined
    "q_setops",              // five 1-row set-op counts folded into one plan
    "qds_q84_income_band",   // non-equi band join against a 3-row VALUES table: broadcast NL is the right plan at any scale
    "q_lm_score",            // corpus-total scalar cross-joined into the scoring projection
    "q_gap_fill",            // dense-grid cross of two GENERATED tiny inputs (keys × days), never fact rows
    "q_ppmi",                // pair-total scalar cross-joined into the scoring projection
    "q_dsir_select",         // model-total scalars cross-joined into the scoring projection
    "q_bm25_topk",           // corpus-stats 1-row broadcast cross-joined into the idf table
    "q_bigram_lm",           // vocab-size 1-row broadcast cross-joined into the scoring projection
    "q_tfidf",               // corpus-count 1-row broadcast cross-joined into the idf projection
    "q_tfidf_bigvocab",      // same scalar cross-join, inflated-vocabulary variant
    "q_keyword_topk",        // same tf-idf scoring subtree under TopKPerKey
    "q_triangles",           // max-pair-count 1-row broadcast cross-joined into the edge threshold
    "q_pipeline_e2e",        // pack-stats scalar aggregate cross-joined onto the 3-row split summary
    "q_more_like_this",      // tf-idf + BM25 corpus-stat scalars cross-joined into the scoring projections
    "q_hybrid_retrieval",    // semantic ranker is the documented exact brute baseline: corpus scan × 3-row broadcast query batch
    "q_retrieval_eval",      // BM25 corpus-stats 1-row broadcast cross-join inherited from the run under evaluation
    "q_bootstrap_ci",        // 1-row totals × 1-row CI aggregate folded into the single summary row
    "q_unigram_em",          // 1-row piece-count total cross-joined into the M-step cost projection
    "q_cdc_chunks",          // 1-row totals × 1-row distinct-totals folded into the single summary row
    "q_utf8_cdc",            // same Cdc.dedupSummary 1-row × 1-row fold, mixed-script variant
    "q_domain_reweight",     // LM corpus-total + domain-frame softmax-Z 1-row broadcasts crossed into the weight projection
    "q_cohen_kappa",         // 1-row totals × 1-row marginal-product aggregate folded into the single κ row
    "q_fleiss_kappa",        // 1-row cell aggregate × 1-row category aggregate folded into the single κ row
    "q_classifier_eval",     // 1-row confusion × 1-row AUC × 1-row ECE folded into the single report row
    "q_weighted_kappa",      // ka×kb marginal grid (chiSquared's contingency shape) + 1-row obs × 1-row Se fold
    "q_krippendorff",        // 1-row pairable-unit totals × 1-row category aggregate folded into the single α row
    "q_fuzzc_01", "q_fuzzc_02", "q_fuzzc_03",
    "q_fuzzc_04")            // 3VL IN/NOT IN in a projection rewrites to ExistenceJoin with a null-disjunct condition — non-equi by SEMANTICS; outer is a ≤25-row dim (nation/region) by corrPairs construction

  /** Entries whose unpartitioned window is over an already-aggregated
    * (small) frame, or is the documented global-order requirement.
    * MACHINE-CHECKED (round 12): the "whitelisted global windows" test
    * below verifies each entry (a) still exists, (b) still PLANS a
    * global window (stale names rot silently — a round-12 audit found
    * 8 of 11 entries no longer planned one), and (c) has a structurally
    * bounded or aggregated input unless it carries a data-contract
    * reason in [[globalWindowUncheckedOk]].
    */
  private val globalWindowOk: Set[String] = Set(
    "qds_q44_best_worst",     // rank over two TakeOrdered frames (structurally bounded)
    "qds_q49_return_rank",    // rank over the WindowGroupLimit-bounded frame (structurally bounded)
    "q_sql_nulls_ordering")   // NULLS FIRST/LAST coverage gate: global rank over the dim-sized frame IS the subject

  /** Entries whose PARTITIONED window runs over a raw (un-aggregated)
    * frame on purpose: the partition key's per-key row count is bounded
    * by a data contract the plan cannot show.  A window partitioned by
    * an unbounded-cardinality key pins that key's rows to ONE task —
    * the same 100 TB bug as a global window, previously invisible to
    * the lint (the verify-skill gotcha list called this out).  Anything
    * new that trips must either re-shape (segmented prefix sum /
    * TopKPerKey) or state its per-key bound here.
    */
  private val keyedWindowOk: Map[String, String] = Map(
    "q_rolling_anomaly"  -> "per-user trailing window; events per user bounded by the sessionized-feed contract (same bound the streaming twin's GroupState relies on)",
    "q_ev_sessionize"    -> "per-user session gaps; per-user rows bounded by the feed contract",
    "q_ev_transitions"   -> "per-user lead/lag chain; per-user rows bounded by the feed contract",
    "q_attribution"      -> "as-of union window keyed by user; per-user rows bounded by the feed contract",
    "q_asof_join"        -> "as-of union window keyed by the join key; per-key rows bounded by the feed contract",
    "q_asof_forward"     -> "same as-of union-window shape, forward direction",
    "q_seq_packing"      -> "per-bin running totals over the capped doc subset the gate selects",
    "q_span_dedup"       -> "per-document winnowing positions; bounded by document length",
    "q_span_remove"      -> "per-document span merge; bounded by document length",
    "q_span_corrupt"     -> "per-document span selection; bounded by document length",
    "q_winnow"           -> "per-document winnowing argmins; bounded by document length",
    "q_cdc_chunks"       -> "per-document rolling-hash and boundary-count windows over character rows; bounded by (truncated) document length, the span-ops contract",
    "q_utf8_cdc"         -> "same Cdc.dedupSummary per-document character windows, mixed-script variant; bounded by (truncated) document length",
    "q_utf8_winnow"      -> "same winnowedFingerprintsOf per-document argmins as q_winnow, mixed-script variant; bounded by document length",
    "q_interleaved_shuffle" -> "order-restore window in the interleave device; keyed by a partition-derived bucket, partition-size-bounded by construction",
    "q_win_ignore_nulls" -> "IGNORE NULLS frame-semantics coverage gate (§2.5); per-user rows bounded by the feed contract",
    "q_window_frames"    -> "ROWS/RANGE frame coverage gate (§2.5); per-key rows bounded by the feed contract",
    "q_window_percent_rank" -> "rank-family coverage gate (§2.5); per-key rows bounded by the feed contract",
    "q_window_range"     -> "RANGE frame coverage gate (§2.5); per-key rows bounded by the feed contract",
    "q_window_sliding"   -> "sliding-frame coverage gate (§2.5); per-key rows bounded by the feed contract",
    "q_window_time_range" -> "INTERVAL range-frame coverage gate (§2.5); per-key rows bounded by the feed contract",
    "q_persistence_baseline" -> "per-user lag-1 prediction; events per user bounded by the feed contract (the rollingAnomalies bound)",
    "q_cusum"            -> "per-user prefix-sum + row_number windows; events per user bounded by the feed contract (the rollingAnomalies bound)",
    "q_chat_truncate"    -> "per-conversation suffix cumsum + lag; turns per conversation bounded by the transcript contract (the feed bound)",
    "q_chat_audit"       -> "per-conversation forward row_number + lag; turns per conversation bounded by the transcript contract (the q_chat_truncate bound)")
  // Note (r16): SuffixArray.suffixRanks' doubling rounds now pair via a
  // lead(k) window PARTITIONED BY DOCUMENT (bounded by the maxLen <=
  // 4096 truncation contract) — it needs no keyedWindowOk entry because
  // every round materializes through localCheckpoint, so the gates'
  // final (linted) plans are post-checkpoint tails with no WindowExec.

  /** The physical plan BELOW the AQE wrapper: AdaptiveSparkPlanExec is
    * a LEAF to TreeNode.collect (Spark 4 enables AQE by default), so a
    * collect on `executedPlan` sees nothing — which silently made every
    * physical-plan lint here vacuous until this helper.  inputPlan is
    * the pre-AQE physical tree; AQE re-planning only ever REPLACES
    * exchanges/joins at runtime, and the anti-patterns linted here
    * (window shape, partition keys) are decided before AQE runs.
    */
  private def physicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.execution.SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }

  test("windows partitioned by a data-scale key must carry a per-key " +
      "bound or an aggregated input") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if keyedWindowOk.contains(name) => None
      case (name, q) if name.startsWith("q_stream") || name.startsWith("q_fuzzst") ||
          name.startsWith("q_dsv2") ||
          name.startsWith("q_hive") || name.startsWith("q_transform") ||
          name.startsWith("q_jdbc") || name.startsWith("q_cache") ||
          name.startsWith("q_ctas") || name.contains("roundtrip") ||
          name.startsWith("q_partitioned") || name.startsWith("q_dpp") ||
          name.startsWith("q_ext") || name.startsWith("q_statestore") ||
          name == "q_sql_scripting" => None
      case (name, q) =>
        val plan = physicalPlan(q(spark, sf))
        val raw = plan.collect {
          case w: WindowExec if w.partitionSpec.nonEmpty &&
              // partition keys that include the physical partition id
              // are partition-size-bounded by construction
              !w.partitionSpec.exists(_.references.exists(
                _.name.startsWith("__pid"))) &&
              // bounded input: an aggregate (group-count-sized), a
              // limit, the bounded-heap TopKPerKey, or a literal frame
              w.child.collectFirst {
                case a if a.nodeName.contains("Aggregate") ||
                  a.nodeName.contains("Limit") ||
                  a.nodeName.contains("TopKPerKey") ||
                  a.nodeName.contains("LocalTableScan") => a
              }.isEmpty => w
        }
        if (raw.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"window partitioned by a data-scale key over a raw frame in: " +
        s"${offenders.mkString(", ")} — re-shape (segmentedPrefixSum / " +
        "TopKPerKey) or whitelist with the per-key bound")
  }

  /** Entries whose global window runs over a GROUPED aggregate whose
    * group count is bounded by a stated cardinality contract the plan
    * cannot show.  Until round 15 any Aggregate below the window was
    * exempt — but a grouped aggregate over unbounded input is only as
    * small as its GROUP CARDINALITY, and for a continuous value column
    * distinct ≈ rows (exactly how the exact-ECDF kernels used to hide a
    * data-scale single-task window behind a groupBy).  Anything new
    * that trips must either re-shape (segmentedPrefixSum — the ECDF
    * fix) or state its group-cardinality bound here.
    */
  private val globalWindowAggOk: Map[String, String] = Map(
    "q_source_topp" -> "cumulative prefix over the per-SOURCE count aggregate — sources are a value-domain-bounded categorical (corpus source registry), never data-scale",
    "qds_cumulative_channels" -> "q51 shape: cumulative sums over the (year, month) channel rollup — calendar-bounded (84 rows at any corpus size)")

  test("unpartitioned windows only run over structurally bounded frames " +
      "(a grouped aggregate alone is NOT a bound)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if globalWindowOk(name) || cartesianOk(name) ||
          globalWindowAggOk.contains(name) => None
      case (name, q) if name.startsWith("q_stream") || name.startsWith("q_fuzzst") ||
          name.startsWith("q_dsv2") ||
          name.startsWith("q_hive") || name.startsWith("q_transform") ||
          name.startsWith("q_jdbc") || name.startsWith("q_cache") ||
          name.startsWith("q_ctas") || name.contains("roundtrip") ||
          name.startsWith("q_partitioned") || name.startsWith("q_dpp") ||
          name.startsWith("q_ext") || name.startsWith("q_statestore") ||
          name == "q_sql_scripting" => None
      case (name, q) =>
        val plan = physicalPlan(q(spark, sf))
        val globalWindows = plan.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        // a global window is fine when its input frame is structurally
        // bounded (limit / scalar agg / literal / grouped agg OVER a
        // bounded child — boundedPhysical composes), or when it orders
        // a `__pid` partition-count frame (the globalRowNumber /
        // segmented-scan offset device: groupBy(spark_partition_id) is
        // ≤ numPartitions rows by construction, opaque to the
        // structural check).  A grouped aggregate over unbounded input
        // is NOT a bound — group cardinality can be data-scale.
        val unbounded = globalWindows.exists { w =>
          val pidOffsets = w.orderSpec.exists(_.child.references.exists(
            _.name.startsWith("__pid")))
          !pidOffsets && !boundedPhysical(w.child)
        }
        if (unbounded) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"global window over an unbounded frame in: ${offenders.mkString(", ")} — " +
        "re-shape (segmentedPrefixSum / TopKPerKey) or whitelist in " +
        "globalWindowAggOk with the group-cardinality bound")
  }

  /** Entries whose broadcast hint covers a frame that is bounded by
    * CONTRACT but not visibly bounded in the plan (e.g. a fixed-row
    * dimension table read from parquet, or a query batch passed in as
    * an input).  Anything new that trips the lint must either drop the
    * hint (plain equi-join; AQE broadcasts when actually small) or
    * argue its way onto this list.
    */
  private val broadcastHintOk: Map[String, String] = Map(
    "q03_shipping_priority" -> "BHJ coverage gate: hint pins the plan-asserted broadcast of the segment-filtered customer dim",
    "q05_local_supplier"    -> "BHJ coverage gate: hint pins broadcasts of region-filtered dims (nation/region are schema-bounded)",
    "q10_returned_items"    -> "BHJ coverage gate: hint pins the broadcast of the filtered customer dim",
    "q_join_theta"          -> "BroadcastNestedLoop demo: the theta join IS the subject; broadcast side is a filtered dim",
    "q_sql_hints"           -> "SQL hint syntax is the coverage subject of this entry",
    "q_hybrid_retrieval"    -> "query batch is a 3-row VALUES joined to the unique-key embedding lookup — bounded by contract, invisible to planBounded through the join",
    "q_more_like_this"      -> "BM25 query-term table is |queryIds| x mTerms rows by contract (TopKPerKey bound, opaque to planBounded)",
    "q_mixture_budget"      -> "segmented-scan offset table is shufflePartitions x |budgets| rows by construction (spark_partition_id x budgeted-domain groupBy, opaque to planBounded)",
    "q_theil_sen"           -> "segmented-scan offset table is filtered to partition-boundary-straddling keys before the hint — at most numPartitions-1 segments straddle a range boundary, so <= parts^2 rows by construction regardless of key cardinality (opaque to planBounded)",
    "q_epoch_order"         -> "segmented-scan offset table over (partition, epoch) — parts x epochs rows by construction (epochs is a config constant), opaque to planBounded",
    "q_serpentine_shards"   -> "globalRowNumber's per-partition count offsets — exactly numPartitions rows by construction (spark_partition_id groupBy), opaque to planBounded",
    "q_stratified_split"    -> "segmentedPrefixSum's boundary-straddling offset table — at most numPartitions-1 strata straddle a range boundary, so <= parts^2 rows by construction regardless of stratum cardinality (the q_theil_sen bound, opaque to planBounded)",
    "q_ks_test"             -> "segmentedPrefixSums' boundary-straddling offset table (the r15 ECDF reshape) — the q_theil_sen parts^2 bound, opaque to planBounded",
    "q_ks_continuous"       -> "same segmented-scan offset broadcast, raw-double distinct≈rows variant — the q_theil_sen parts^2 bound, opaque to planBounded",
    "q_rank_sum"            -> "segmentedPrefixSum's boundary-straddling offset table (the r15 ECDF reshape) — the q_theil_sen parts^2 bound, opaque to planBounded",
    "q_classifier_eval"     -> "exact-AUC path reuses Drift.rankSumU's segmented-scan offset broadcast (the r15 ECDF reshape) — the q_theil_sen parts^2 bound, opaque to planBounded",
    "q_pr_curve"            -> "threshold-sweep cumulative tp/fp via segmentedPrefixSums' offset broadcast (the r15 ECDF reshape) — the q_theil_sen parts^2 bound, opaque to planBounded",
    "q_negative_sampling"   -> "inverse-CDF weight line via segmentedPrefixSum's offset broadcast (the r15 reshape off the vocabulary-frame global window) — the q_theil_sen parts^2 bound, opaque to planBounded")

  /** A frame is plan-bounded when its row count cannot scale with the
    * input data: a limit, a scalar (no-grouping) aggregate, a literal
    * local relation, or any composition of unary ops / joins over
    * bounded children.  A grouped aggregate over unbounded input is NOT
    * bounded — that is exactly the vocabulary-sized-broadcast class
    * that OOMs at 100 TB.
    */
  private def planBounded(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: GlobalLimit | _: LocalLimit => true
      case _: LocalRelation => true
      case _: OneRowRelation => true
      case r: Range => r.numElements <= BigInt(100000)
      case a: Aggregate => a.groupingExpressions.isEmpty || planBounded(a.child)
      case j: Join => planBounded(j.left) && planBounded(j.right)
      case u: Union => u.children.forall(planBounded)
      case u: UnaryNode => planBounded(u.child)
      case _ => false
    }
  }

  test("no broadcast hint on a frame of unbounded cardinality") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if broadcastHintOk.contains(name) => None
      case (name, q) if name.startsWith("q_stream") || name.startsWith("q_fuzzst") ||
          name.startsWith("q_dsv2") ||
          name.startsWith("q_hive") || name.startsWith("q_transform") ||
          name.startsWith("q_jdbc") || name.startsWith("q_cache") ||
          name.startsWith("q_ctas") || name.contains("roundtrip") ||
          name.startsWith("q_partitioned") || name.startsWith("q_dpp") ||
          name.startsWith("q_ext") || name.startsWith("q_statestore") ||
          name == "q_sql_scripting" => None // side-effecting; planned in their own gates
      case (name, q) =>
        val analyzed = q(spark, sf).queryExecution.analyzed
        val unbounded = analyzed.collect {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
              !planBounded(h.child) => h
        }
        if (unbounded.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"broadcast hint on an unbounded-cardinality frame in: " +
        s"${offenders.mkString(", ")} — drop the hint (AQE broadcasts when " +
        "actually small) or whitelist with a reason")
  }

  /** Physical mirror of [[planBounded]]: a subtree whose row count
    * cannot scale with input data — a no-grouping aggregate, a limit /
    * TakeOrdered / TopKPerKey heap, a literal scan, or unary/join
    * compositions of those.  Used to turn the cartesian whitelist from
    * a name list into a CHECKED invariant: most whitelisted entries
    * claim "one side is a scalar/bounded frame", and that claim is now
    * asserted structurally instead of trusted.
    */
  private def boundedPhysical(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
    case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
      a.groupingExpressions.isEmpty || boundedPhysical(a.child)
    case _: org.apache.spark.sql.execution.LocalTableScanExec => true
    case l if l.nodeName.contains("Limit") ||
      l.nodeName.contains("TakeOrdered") => true
    case t if t.nodeName.contains("TopKPerKey") => true
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      boundedPhysical(r.child)
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      boundedPhysical(j.left) && boundedPhysical(j.right)
    case u: org.apache.spark.sql.execution.UnaryExecNode =>
      boundedPhysical(u.child)
    case _ => false
  }

  /** The residue of the cartesian whitelist that a structural bound
    * cannot cover — capped brute-force oracle twins whose cap lives in
    * a data contract (an injected clique, a filtered id range) rather
    * than a plan node, and dense marginal grids whose BOTH sides are
    * category-cardinality frames.  Everything else in [[cartesianOk]]
    * is machine-checked by the test below.
    */
  private val cartesianUncheckedOk: Map[String, String] = Map(
    "q_join_cross"   -> "the cartesian-join coverage gate: the cross over dims IS the subject",
    "q_join_theta"   -> "theta-join coverage gate: BroadcastNestedLoop over the filtered dim IS the subject",
    "q_chi_squared"  -> "contingency grid = |catA| x |catB| marginal cross; both sides are GROUPED category aggregates, bounded by value cardinality (a data contract no plan node shows)",
    "q_weighted_kappa" -> "ka x kb ordinal-level marginal grid — the q_chi_squared shape; levels bounded by the rating-scale contract",
    "q_gap_fill"     -> "dense (key x day) grid of two GENERATED frames; key side is a distinct-key aggregate bounded by the key-domain contract",
    "q_retention_fit" -> "week-0 denominator side is a week-GROUPED aggregate filtered to one week — 1 row by the cohort contract, grouped (not scalar) in the plan",
    "q_hybrid_retrieval" -> "brute semantic ranker: corpus scan x 3-row VALUES query batch resolved through a unique-key embedding lookup join (the broadcastHintOk bound, opaque to boundedPhysical)",
    "q_fuzzc_01" -> "three-valued IN/NOT IN verdict in a projection: Spark rewrites to ExistenceJoin whose condition carries the null disjunct (k = v OR isnull(k = v)) — non-equi by SEMANTICS, so BNLJ is the only correct plan; the fuzz family's corrPairs pin the OUTER side to nation/region (fixed <=25-row TPC-H dims) and the inner to a filtered dim projection, a data contract no plan node shows",
    "q_fuzzc_02" -> "same 3VL ExistenceJoin shape as q_fuzzc_01 (corrPairs outer = fixed dim)",
    "q_fuzzc_03" -> "same 3VL ExistenceJoin shape as q_fuzzc_01 (corrPairs outer = fixed dim)",
    "q_fuzzc_04" -> "same 3VL ExistenceJoin shape as q_fuzzc_01 (corrPairs outer = fixed dim)")

  test("whitelisted cartesians really have a structurally bounded side " +
      "and the whitelist carries no rot") {
    assert(cartesianUncheckedOk.keySet.subsetOf(cartesianOk),
      "unchecked residue must be a subset of the whitelist")
    val missing = cartesianOk.toSeq.sorted
      .filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"cartesianOk names not in the battery: $missing")
    val results = cartesianOk.toSeq.sorted.map { name =>
      val plan = physicalPlan(SparkEntry.queries(name)(spark, sf))
      val carts = plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case b: org.apache.spark.sql.execution.joins
            .BroadcastNestedLoopJoinExec => b
      }
      (name, carts)
    }
    // staleness: a whitelisted entry that no longer plans any
    // cartesian/BNLJ is a rotten row (a round-12 audit found 22 —
    // plans had evolved past their whitelist reasons); cartesian shape
    // is scale-independent (it comes from keyless joins, not sizes)
    val rotten = results.collect { case (n, carts) if carts.isEmpty => n }
    assert(rotten.isEmpty,
      s"whitelisted entries that no longer plan a cartesian/BNLJ: " +
        s"${rotten.mkString(", ")} — remove them from cartesianOk")
    val offenders = results.collect {
      case (name, carts) if !cartesianUncheckedOk.contains(name) &&
        carts.exists(c => !(boundedPhysical(c.left) ||
          boundedPhysical(c.right))) => name
    }
    assert(offenders.isEmpty,
      s"whitelisted cartesian with NO bounded side in: " +
        s"${offenders.mkString(", ")} — the whitelist reason claims a " +
        "scalar/bounded side; either fix the plan or move the entry to " +
        "cartesianUncheckedOk with the data-contract bound")
  }

  /** The residue of the GLOBAL-window whitelist that a structural bound
    * cannot cover — entries whose single-task window input is bounded
    * by a data contract (a dim-sized table, a capped id-range subset)
    * rather than a plan node.  Everything else in [[globalWindowOk]] is
    * machine-checked by the test below, the same device 1b4307d built
    * for the cartesian whitelist: a name on a list is a claim, a
    * structural check is an invariant.
    */
  private val globalWindowUncheckedOk: Map[String, String] = Map(
    "q_sql_nulls_ordering" -> "NULLS FIRST/LAST coverage gate: the global rank over the nation-sized dim IS the subject")

  test("keyed-window whitelist entries still exist and still plan a " +
      "keyed window over a raw frame (staleness check)") {
    import org.apache.spark.sql.execution.window.WindowExec
    // the same rot-prevention the global-window list got: an entry
    // whose plan no longer contains a raw-input keyed window is a
    // rotten whitelist row — the bound it documents guards nothing
    val stale = keyedWindowOk.keys.toSeq.sorted
      .filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"keyedWindowOk names not in the battery: $stale")
    val rotten = keyedWindowOk.keys.toSeq.sorted
      .filter(SparkEntry.queries.contains).filter { name =>
        val plan = physicalPlan(SparkEntry.queries(name)(spark, sf))
        plan.collect {
          case w: WindowExec if w.partitionSpec.nonEmpty &&
              !w.partitionSpec.exists(_.references.exists(
                _.name.startsWith("__pid"))) &&
              w.child.collectFirst {
                case a if a.nodeName.contains("Aggregate") ||
                  a.nodeName.contains("Limit") ||
                  a.nodeName.contains("TopKPerKey") ||
                  a.nodeName.contains("LocalTableScan") => a
              }.isEmpty => w
        }.isEmpty
      }
    assert(rotten.isEmpty,
      s"keyedWindowOk entries that no longer plan a raw-input keyed " +
        s"window: ${rotten.mkString(", ")} — remove them")
  }

  test("whitelisted global windows really have a structurally bounded " +
      "or aggregated input") {
    import org.apache.spark.sql.execution.window.WindowExec
    // bounded the cartesian way (limit / TakeOrdered / TopKPerKey /
    // scalar agg / literal), or group-count-sized: a grouped aggregate
    // anywhere below means the window ranks groups, not raw rows —
    // the same convention the battery-wide lint accepts
    def windowInputOk(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      boundedPhysical(p) || p.collectFirst {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
    assert(globalWindowUncheckedOk.keySet.subsetOf(globalWindowOk),
      "unchecked residue must be a subset of the whitelist")
    val stale = globalWindowOk.toSeq.sorted.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"whitelist names not in the battery: $stale")
    val results = globalWindowOk.toSeq.sorted.map { name =>
      val plan = physicalPlan(SparkEntry.queries(name)(spark, sf))
      val gw = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      (name, gw)
    }
    // staleness: an entry that no longer plans a global window is a
    // rotten whitelist row — remove it (this is how 8 stale rows died)
    val rotten = results.collect { case (n, gw) if gw.isEmpty => n }
    assert(rotten.isEmpty,
      s"whitelisted entries that no longer plan a global window: " +
        s"${rotten.mkString(", ")} — remove them from globalWindowOk")
    val offenders = results.collect {
      case (name, gw) if !globalWindowUncheckedOk.contains(name) &&
        gw.exists(w => !windowInputOk(w.child)) => name
    }
    assert(offenders.isEmpty,
      s"whitelisted global window with NO structurally bounded input in: " +
        s"${offenders.mkString(", ")} — the whitelist reason claims a " +
        "bounded frame; either fix the plan or move the entry to " +
        "globalWindowUncheckedOk with the data-contract bound")
  }

  test("no gate entry plans an unexpected cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if cartesianOk(name) => None
      case (name, q) if name.startsWith("q_stream") || name.startsWith("q_fuzzst") ||
          name.startsWith("q_dsv2") ||
          name.startsWith("q_hive") || name.startsWith("q_transform") ||
          name.startsWith("q_jdbc") || name.startsWith("q_cache") ||
          name.startsWith("q_ctas") || name.contains("roundtrip") ||
          name.startsWith("q_partitioned") || name.startsWith("q_dpp") ||
          name.startsWith("q_ext") || name.startsWith("q_statestore") ||
          name == "q_sql_scripting" => None // side-effecting; planned in their own gates
      case (name, q) =>
        val plan =
          try q(spark, sf).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        if (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected cartesian/BNLJ in: ${offenders.mkString(", ")} — " +
        "fix the join keys or whitelist with a reason")
  }
}
