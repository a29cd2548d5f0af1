package graft.ops

import graft.{GraftSession, SparkEntry, SparkSpec}

/** Partitioning-invariance battery: the ops layer's standing claim —
  * "integer-exact, partitioning-invariant" — made a CHECKED invariant
  * instead of a design note.  Each listed gate is recomputed under
  * (a) a different shuffle-partition count and (b) AQE disabled, and
  * its order-insensitive [[Checks.datasetFingerprint]] must be
  * bit-identical to the baseline.
  *
  * Why this is not redundant with the DuckDB oracle: the driver's
  * correctness gate runs at ONE partitioning configuration, so a
  * float-accumulation-order dependence (or a per-partition RNG /
  * first-row dependence) stays invisible as long as the config is
  * stable — it would surface only as an unexplainable red gate after
  * an unrelated conf change.  Here the config IS the variable.  At
  * 1000 executors the partition count is never the test-box constant,
  * so anything that fails this spec is wrong at scale by construction.
  *
  * Entries are chosen across the claimed-invariant families: integer
  * micro-nat retrieval, LSH dedup, connected components, winnowing
  * argmins, drift statistics, eval metrics (clipped n-gram overlap,
  * codegen LCS, exact AUC), preference fits, exact allocation,
  * changepoints, decontamination, window-free global numbering,
  * PageRank, vocabulary fits, suffix ranks, and k-means (k-row
  * deterministic seeding).  Seeded SAMPLING gates (q_sample_seeded,
  * q_tablesample) are excluded on contract: Spark's rand(seed) draws
  * per-partition streams, so their output is partitioning-DEPENDENT by
  * documented design and their oracles are statistical envelopes, not
  * hashes.
  */
class InvarianceSpec extends SparkSpec {

  /** SPARK_GRAFT_INVARIANCE_SF overrides the data scale (default
    * sf0.001): float-accumulation-order bugs need enough rows per
    * partition to surface, so the offline hunt also runs at sf0.01.
    */
  private val invSf: String =
    sys.env.getOrElse("SPARK_GRAFT_INVARIANCE_SF", sf)

  private def fingerprint(name: String): String = {
    val df = SparkEntry.queries(name)(spark, invSf)
    Checks.datasetFingerprint(df, df.columns.toSeq).collect()(0).toString
  }

  /** Gates that are partitioning-DEPENDENT by documented contract, or
    * side-effectful/protocol-bound — excluded from the sweep mode:
    *  - per-partition RNG by design: Spark's rand(seed) draws one
    *    stream per partition, so seeded-sampling gates are envelope-
    *    checked, not hash-checked (their oracles say so)
    *  - partition-derived outputs by design: interleave/shard devices
    *    key on spark_partition_id
    *  - external-state/protocol entries (sinks, catalogs, streams)
    */
  private def sweepExcluded(name: String): Boolean =
    name.startsWith("q_stream") || name.startsWith("q_dsv2") ||
      name.startsWith("q_hive") || name.startsWith("q_transform") ||
      name.startsWith("q_jdbc") || name.startsWith("q_cache") ||
      name.startsWith("q_ctas") || name.contains("roundtrip") ||
      name.startsWith("q_partitioned") || name.startsWith("q_ext") ||
      name.startsWith("q_statestore") || name.startsWith("q_catalog") ||
      name.startsWith("q_fuzz") || name.startsWith("q_lineage_stream") ||
      name == "q_sql_scripting" || name == "q_script_transform" ||
      name == "q_sample_seeded" || name == "q_tablesample" ||
      name == "q_interleaved_shuffle" || name == "q_serpentine_shards"

  private val curated = Seq(
    "q_bm25_topk",        // integer micro-nat BM25 through TopKPerKey
    "q_dedup_minhash",    // banded LSH candidates + verified pairs
    "q_dup_clusters",     // large-star/small-star CC labels
    "q_winnow",           // packed-BIGINT argmin fingerprint selection
    "q_drift_psi",        // integer-moment PSI bins
    "q_bleu",             // clipped n-gram overlap, integer counts
    "q_rouge_l",          // codegen LCS kernel
    "q_bradley_terry",    // integer-ratio MM fit iterations
    "q_grpo_advantage",   // exact integer moments + one double division
    "q_classifier_eval",  // exact AUC from rank sums
    "q_budget_waterfill", // exact DECIMAL waterline + largest remainder
    "q_cusum",            // integer-exact changepoint statistic
    "q_contamination",    // n-gram overlap decontamination
    "q_global_rownum",    // global numbering WITHOUT a global window
    "q_pagerank",         // iterative rank mass, bounded rounds
    "q_zipf_fit",         // OLS on exact integer moments
    "q_suffix_ranks",     // prefix-doubling rank assignment
    "q_kmeans",           // k-row deterministic seeding + integer sums
    // the rest of the custom-codegen-expression hosts, so the
    // interpreted leg covers every doGenCode/eval pair in situ
    "q_hamming",          // hamming64
    "q_zorder_code",      // InterleaveBits16
    "q_hilbert_code",     // HilbertIndex2D
    "q_dedup_simhash",    // SimHash64
    "q_blocklist",        // MultiMatchCount (Aho-Corasick)
    "q_wordpiece",        // WordPieceEncode
    "q_unigram_em",       // UnigramViterbi
    "q_fingerprint",      // rolling_hash64
    "q_dedup_jaccard",    // jaccard_sorted
    "q_knn_brute")        // cosine_sim

  /** SPARK_GRAFT_INVARIANCE=all sweeps every eligible gate (a ~25 min
    * offline hunt); default is the curated cross-family sample.
    */
  private val entries: Seq[String] =
    if (sys.env.get("SPARK_GRAFT_INVARIANCE").contains("all"))
      SparkEntry.queries.keys.toSeq.filterNot(sweepExcluded).sorted
    else curated

  for (name <- entries) {
    test(s"$name: fingerprint invariant to shuffle-partition count " +
        "and AQE on/off") {
      val base = fingerprint(name)
      val repartitioned =
        GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "5")(fingerprint(name))
      assert(repartitioned == base,
        s"$name changes under shuffle.partitions=5: $base vs $repartitioned" +
          " — a partition-count dependence (accumulation order, " +
          "per-partition RNG, or first-row tie-break) that breaks at scale")
      val noAqe =
        GraftSession.withConf(spark, "spark.sql.adaptive.enabled" -> "false")(fingerprint(name))
      assert(noAqe == base,
        s"$name changes with AQE off: $base vs $noAqe — the result must " +
          "not depend on runtime re-planning")
      // third leg: interpreted execution — every custom Expression's
      // eval() path must agree with its doGenCode() path IN SITU (the
      // per-expression unit tests can't see interactions with casts,
      // null plumbing, and aggregate buffers inside real gate plans)
      val interpreted = GraftSession.withConf(spark,
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(fingerprint(name))
      assert(interpreted == base,
        s"$name changes with codegen disabled: $base vs $interpreted — " +
          "an eval()-vs-doGenCode() divergence in some expression on " +
          "this gate's path")
    }
  }
}
