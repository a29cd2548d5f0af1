package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.hamming64

/** Deduplication operators for LLM training-data pipelines.
  *
  * Four tiers, cheapest first:
  *  1. exact        — hash-groupBy on normalized text (one shuffle).
  *  2. MinHash+LSH  — shingle → 64-perm signature → banded bucket join →
  *                    exact-Jaccard refine.  Candidate generation is an
  *                    equi-join on (band, bandHash): at 100 TB this is
  *                    the only shuffle and it carries ~b rows per doc.
  *  3. SimHash      — 64-bit signature, banded by 4×16-bit chunks
  *                    (pigeonhole: hamming ≤ 3 ⇒ one chunk equal).
  *  4. Embedding    — random-hyperplane LSH buckets + exact cosine
  *                    refine (see Similarity).
  *
  * Everything is seeded and deterministic: signatures come from
  * xxhash64(seed-literal, value), never from Random.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** 128-bit key for exact-text grouping: a struct of two
    * independently-seeded xxhash64 values over the normalized text.  A
    * single 64-bit hash collides at the birthday bound around 2³² keys
    * — real at the 100 TB design scale (10¹⁰–10¹¹ docs ⇒ many expected
    * collisions), so "exact" dedup keyed on one hash would silently
    * merge distinct documents.  Two independent 64-bit hashes push the
    * collision probability below 10⁻¹⁶ even at 10¹¹ docs, while the
    * shuffle key stays a fixed 16 bytes instead of the document itself.
    */
  private def exactKey(textCol: Column): Column = {
    val nt = TextAnalysis.normalize(textCol)
    struct(xxhash64(nt).as("h1"), xxhash64(lit("graft-dedup-2"), nt).as("h2"))
  }

  /** Exact duplicates by normalized text: returns one row per duplicate
    * group with the member ids (smallest id is the keeper).  Groups on
    * a 128-bit hash struct — a 16-byte shuffle key instead of the
    * document itself (see [[exactKey]] for the collision math).
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), exactKey(col(textCol)).as("nh"))
      .groupBy(col("nh"))
      .agg(count(lit(1)).as("n_members"),
        min(col("id")).as("keeper"),
        sort_array(collect_list(col("id"))).as("members"))
      .filter(col("n_members") > 1)

  /** Keep one row per distinct normalized text (smallest id wins).
    * Window-free formulation: min-id per key then semi-join, so the
    * heavy payload column is never shuffled through a sort; the group
    * key is the 16-byte text-hash struct, not the text (see
    * [[exactKey]]).
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = df
      .select(col(idCol).as("__id"), exactKey(col(textCol)).as("__nh"))
      .groupBy(col("__nh")).agg(min(col("__id")).as("__keep"))
      .select(col("__keep"))
    df.join(keepers, col(idCol) === col("__keep"), "left_semi")
  }

  /** Dedup a NEW batch against a historical corpus without shuffling
    * history PAYLOADS — the daily-ingest shape: history is ~the whole
    * corpus, the batch is a sliver, so an anti-join that shuffles full
    * history rows is the wrong plan at 100 TB.  What does move: the
    * Bloom build sends only partial SKETCHES (map-side OR-merge), and
    * the exact verify shuffles 16-byte history keys — never document
    * bytes.
    *
    * Phase 1 folds history's 64-bit text hash into a Bloom filter as a
    * distributed aggregate (partial sketches OR-merge map-side — one
    * pass, no shuffle of rows).  Phase 2 probes the batch inside
    * codegen: misses are DEFINITELY new (no false negatives) and pass
    * through join-free; only the candidate sliver (true dups + the
    * configured false-positive rate) reaches the exact verify, an
    * anti-join on the 16-byte 128-bit key (see [[exactKey]] for why not
    * 64-bit).  The result is EXACTLY `newDocs` minus rows whose
    * normalized text appears in `history` — the bloom is a pure
    * pruning layer, never a correctness layer.
    *
    * `expectedHistoryRows` sizes the filter at ~9.6 bits/key (1% fpp).
    */
  def incrementalDedup(newDocs: DataFrame, history: DataFrame,
      textCol: String, expectedHistoryRows: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val histKeys = history.select(exactKey(col(textCol)).as("nh"))
    val bf = histKeys.agg(ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(col("nh.h1")),
      Literal(expectedHistoryRows),
      Literal(math.max(64L, expectedHistoryRows * 10))).toAggregateExpression())
      .as("bf"))
    val keyed = newDocs.withColumn("__nh", exactKey(col(textCol)))
    // empty history → the aggregate yields a NULL filter → null probe;
    // coalesce to false so a bootstrap batch passes through untouched
    val probe = coalesce(ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(bf.scalar()),
      ColumnBridge.expression(col("__nh.h1")))), lit(false))
    val clean = keyed.filter(!probe)
    val candidates = keyed.filter(probe)
    val verified = candidates.join(histKeys.distinct(),
      candidates("__nh") === histKeys("nh"), "left_anti")
    clean.unionByName(verified).drop("__nh")
  }

  /** Per-bucket bloom INDEX of a history corpus: one row per hash
    * bucket, `(bucket BIGINT, bf BINARY)`.  This is the 100 TB contract
    * [[incrementalDedup]] can't meet: there the bloom is rebuilt from
    * the FULL history every batch, so history is re-scanned per ingest.
    * The index is built once (or maintained incrementally — blooms
    * union), persisted like any table, and each daily batch reads only
    * the index plus the verify join's slice of history.
    */
  def bloomIndex(history: DataFrame, textCol: String, buckets: Int,
      expectedHistoryRows: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val perBucket = math.max(64L, expectedHistoryRows / math.max(1, buckets))
    history.select(exactKey(col(textCol)).as("nh"))
      .withColumn("bucket", pmod(col("nh.h1"), lit(buckets.toLong)))
      .groupBy(col("bucket"))
      .agg(ColumnBridge.column(new BloomFilterAggregate(
        ColumnBridge.expression(col("nh.h1")),
        Literal(perBucket),
        Literal(math.max(64L, perBucket * 10))).toAggregateExpression())
        .as("bf"))
  }

  /** Two-level incremental dedup: probe the PRE-BUILT per-bucket bloom
    * index (level 1, broadcast-joined + bucket-clustered so each task
    * deserializes a bucket's filter once — [[graft.functions.BloomProbe]]),
    * then verify only the bloom HITS against history with an anti-join
    * (level 2).  History is touched ONLY by the verify join, so a
    * batch's history reads are bounded by bloom selectivity (fpp ×
    * batch + true dups) instead of |history| — with history bucketed or
    * partitioned on the same key, that join prunes to candidate
    * buckets.  Result is exactly the plain anti-join (bloom has no
    * false negatives; every hit is re-verified on the 128-bit key).
    */
  def incrementalDedupBloom2(newDocs: DataFrame, history: DataFrame,
      index: DataFrame, textCol: String, buckets: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val keyed = newDocs.withColumn("__nh", exactKey(col(textCol)))
      .withColumn("__bk", pmod(col("__nh.h1"), lit(buckets.toLong)))
    // no broadcast hint: the index is ≤ buckets rows by construction,
    // so its (file-size or exact) statistics make Spark broadcast it
    // hint-free — and the lint stays able to flag real unbounded hints
    val probed = keyed
      .join(index, keyed("__bk") === index("bucket"), "left")
      // local sort only: clusters rows by bucket inside each existing
      // partition so the probe's one-entry filter cache hits
      .sortWithinPartitions(col("__bk"))
      .withColumn("__hit", coalesce(ColumnBridge.column(
        graft.functions.BloomProbe(
          ColumnBridge.expression(col("__bk")),
          ColumnBridge.expression(col("bf")),
          ColumnBridge.expression(col("__nh.h1")))), lit(false)))
      .drop("bucket", "bf")
    val clean = probed.filter(!col("__hit"))
    val candidates = probed.filter(col("__hit"))
    val histKeys = history.select(exactKey(col(textCol)).as("nh")).distinct()
    val verified = candidates.join(histKeys,
      candidates("__nh") === histKeys("nh"), "left_anti")
    clean.unionByName(verified).drop("__nh", "__bk", "__hit")
  }

  // -------------------------------------------------------------- MinHash

  /** Word w-shingles over an already-materialized token-array COLUMN.
    * The token argument must be a plain attribute, not an expression:
    * lambda bodies re-evaluate captured row expressions once per array
    * element (no subexpression elimination inside higher-order
    * functions), so passing `split(regexp_replace(...))` here would
    * re-tokenize the document once per shingle — O(doc²) work.
    */
  def shinglesFromTokens(toks: Column, w: Int = 3): Column = {
    val n = size(toks)
    // sliding window: shingle i covers tokens [i+1, i+w]
    when(n >= w,
      array_distinct(transform(
        sequence(lit(0), n - lit(w)),
        i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(w)))))))
      .otherwise(array(xxhash64(concat_ws(" ", toks))))
  }

  /** (id, sh) shingle-set table for a document table — tokenizes in one
    * projection, shingles over the materialized array in the next.
    * The set is SORTED (ascending) so the Jaccard refine can run the
    * allocation-free two-pointer [[graft.functions.jaccard_sorted]]
    * expression instead of array_intersect/array_union.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      w: Int = 3): DataFrame =
    df.select(col(idCol).as("id"), col(textCol).as("__sst"))
      .select(col("id"),
        split(TextAnalysis.normalize(col("__sst")), " ").as("toks"))
      .select(col("id"), sort_array(shinglesFromTokens(col("toks"), w)).as("sh"))

  /** Word w-shingles of the normalized text, hashed to 64 bits.
    * Convenience form; prefer [[shingleSets]] in pipelines (see
    * [[shinglesFromTokens]] for why).
    */
  def shingles(text: Column, w: Int = 3): Column =
    shinglesFromTokens(split(TextAnalysis.normalize(text), " "), w)

  /** k seeded MinHash values of a 64-bit shingle array: column i is
    * min(xxhash64(i, shingle)).  Stays entirely in codegen; the k
    * hashes are independent because the seed literal participates in
    * the xxhash mix.  (Array formulation — fine for narrow use; the
    * pipeline uses [[minhashSignatures]] which computes the same values
    * via explode + partial aggregation, avoiding k array
    * materializations per row.)
    */
  def minhashSignature(shingleCol: Column, k: Int = 64): Column =
    array((0 until k).map { i =>
      array_min(transform(shingleCol, s => xxhash64(lit(i), s)))
    }: _*)

  /** Signature table (id, h0..h{k-1}) computed scale-first: explode the
    * shingle set once and take k seeded mins with hash aggregation.
    * Partial aggregation (map-side combine) means the shuffle carries k
    * longs per doc regardless of document length, and nothing allocates
    * intermediate arrays in the hot loop.
    */
  def minhashSignatures(sh: DataFrame, k: Int = 64): DataFrame = {
    val ex = sh.select(col("id"), explode(col("sh")).as("h"))
    val aggs = (0 until k).map(i => min(xxhash64(lit(i), col("h"))).as(s"h$i"))
    ex.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs from signatures: b bands of r rows.  Pairs
    * sharing any band bucket are candidates.  Self-join is on the
    * (band, bucket) equi-key — broadcast-free, shuffle-partitioned by
    * bucket, skew-safe because bucket cardinality is bounded by band
    * hashing.
    */
  def lshCandidates(sigs: DataFrame, idCol: String, sigCol: String,
      bands: Int = 16, rows: Int = 4): DataFrame = {
    val banded = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .select(col("id"), posexplode(array((0 until bands).map { b =>
        xxhash64((lit(b) +: (0 until rows).map(r =>
          element_at(col("sig"), b * rows + r + 1))): _*)
      }: _*)).as(Seq("band", "bucket")))
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Full MinHash near-dup pipeline with exact-Jaccard refine: returns
    * (id_a, id_b, jaccard) for pairs with jaccard >= threshold.  The
    * refine joins the (small) candidate set back to shingle sets — at
    * scale candidates ≪ corpus so both joins broadcast or stay tiny.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, w: Int = 3, k: Int = 64,
      bands: Int = 16, rows: Int = 4): DataFrame = {
    // The shingle sets feed three plan branches (signatures + both
    // refine joins); cache them so tokenization runs once.  At cluster
    // scale MEMORY_AND_DISK spills gracefully; recomputation would cost
    // three full tokenization passes instead.
    val sh = shingleSets(df, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Band buckets come from the fused MinHashBuckets expression — the
    // k seeded mins and per-band hashes in one codegen pass per doc
    // (bit-identical to the explode + k-way min-aggregate formulation,
    // pinned by MinHashSpec).  The aggregation stage disappears and
    // each doc contributes `bands` longs instead of k; both sides of
    // the bucket self-join derive from this table, so cache it.
    val banded = sh.select(col("id"),
        posexplode(graft.functions.minhash_buckets(col("sh"), k, bands, rows))
          .as(Seq("band", "bucket")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = banded.select(col("band"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id_b"))
    val cands = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val withSets = cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
    val pairs = withSets
      .withColumn("jaccard",
        round(graft.functions.jaccard_sorted(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    // pairs ≪ corpus: materialize them, release the corpus-sized caches
    CacheScope.releasing(pairs, sh, banded)
  }

  /** One ingest round of NEAR-duplicate dedup against a persisted LSH
    * index — the streaming/batch-incremental counterpart of
    * [[minhashPairs]]: the history never re-shingles and never ships
    * documents, only its (id, band, bucket) index rows and (id, sh)
    * shingle sets.
    *
    * The batch is shingled once, banded with the fused
    * [[graft.functions.MinHashBuckets]] expression, and candidates come
    * from the (band, bucket) equi-join against the index; only the
    * candidate sliver joins shingle sets for the exact-Jaccard refine.
    * Batch-INTERNAL duplicates are out of contract (run
    * [[dropExactDuplicates]] / [[minhashPairs]] within the batch first
    * if ingest batches can self-duplicate).
    *
    * @return (survivors, survivorIdx, survivorSets): the batch minus
    *         near-dups of history, plus the index and shingle-set rows
    *         to APPEND to the persisted history for the next round
    */
  def nearDupAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      histIdx: DataFrame, histSets: DataFrame, threshold: Double,
      w: Int = 3, k: Int = 64, bands: Int = 16, rows: Int = 4)
      : (DataFrame, DataFrame, DataFrame) = {
    val bsh = shingleSets(batch, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bidx = bsh.select(col("id"),
      posexplode(graft.functions.minhash_buckets(col("sh"), k, bands, rows))
        .as(Seq("band", "bucket")))
    val cand = bidx
      .join(histIdx.select(col("id").as("__old"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select(col("id"), col("__old")).distinct()
    // pin the duplicate-id set eagerly: the caller appends the returned
    // index rows to the SAME storage histIdx/histSets were read from,
    // and a lazy dup would re-read the augmented index during those
    // writes (every batch doc would then match itself and be dropped)
    val dup = cand
      .join(bsh.select(col("id"), col("sh").as("__sha")), Seq("id"))
      .join(histSets.select(col("id").as("__old"), col("sh").as("__shb")),
        Seq("__old"))
      .filter(graft.functions.jaccard_sorted(col("__sha"), col("__shb"))
        >= threshold)
      .select(col("id")).distinct()
      .localCheckpoint()
    val survivors = batch.join(dup, batch(idCol) === dup("id"), "left_anti")
    val keepIdx = bidx.join(dup, Seq("id"), "left_anti")
    val keepSets = bsh.join(dup, Seq("id"), "left_anti")
    (survivors, keepIdx, keepSets)
  }

  /** Exact n-gram Jaccard similarity for ALL pairs above a threshold —
    * the brute-force oracle twin of minhashPairs (quadratic; use only
    * for validation or small partitions).
    */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, w: Int = 3): DataFrame = {
    val sh = shingleSets(df, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        round(graft.functions.jaccard_sorted(col("sh_a"), col("sh_b")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    CacheScope.releasing(pairs, sh)
  }

  /** EXACT Jaccard pairs ≥ threshold via PREFIX FILTERING (Bayardo et
    * al. WWW'07 "Scaling Up All Pairs Similarity Search" / SSJoin):
    * same output as [[jaccardPairsExact]], sub-quadratic plan.  Under
    * a GLOBAL rarity order (document frequency asc, shingle id as the
    * total-order tiebreak), any pair with J ≥ t must share a shingle
    * inside both documents' first `|x| − ⌈t·|x|⌉ + 1` shingles — so
    * only those PREFIX shingles enter the inverted index, and the
    * candidate join touches the rarest tokens first (the frequent
    * shingles that explode a full inverted index never generate
    * candidates at all).
    *
    * Scale shape: one df aggregation, one per-doc window (partitioned
    * by doc — parallel), an equi-join on prefix shingles, then the
    * codegen two-pointer [[graft.functions.jaccard_sorted]] verify on
    * the candidate pairs only.  At t = 0.9 the prefix is ~10% of each
    * document — a 10× smaller index and a ~100× smaller candidate
    * cross-section than full-index joins, with EXACT (not
    * probabilistic) results.
    */
  def prefixFilteredJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, w: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0)
    val sh = shingleSets(df, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = sh.select(col("id"), explode(col("sh")).as("__s"))
    val dfreq = toks.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
    val pos = toks.join(dfreq, Seq("__s"))
      .withColumn("__p", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("__df"), col("__s"))))
    val pref = pos.join(sh.select(col("id"), size(col("sh")).as("__sz")),
        Seq("id"))
      .filter(col("__p") <=
        col("__sz") - ceil(col("__sz") * threshold).cast("long") + 1)
    val cand = pref.select(col("__s"), col("id").as("id_a"))
      .join(pref.select(col("__s"), col("id").as("id_b")), Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val pairs = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("__sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("__sb")), Seq("id_b"))
      .withColumn("jaccard",
        round(graft.functions.jaccard_sorted(col("__sa"), col("__sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    CacheScope.releasing(pairs, sh)
  }

  /** Containment near-dup pairs (Broder containment
    * C(A→B) = |A∩B| / |A| over shingle sets): finds the doc-in-doc
    * relations symmetric Jaccard MISSES — a 10-shingle quote embedded
    * in a 500-shingle page scores J ≈ 0.02 but C(quote→page) = 1.0 —
    * the screen for quotes, boilerplate supersets and page-in-page
    * duplication.
    *
    * Scale design: candidates come from the inverted shingle index
    * (two ids pair iff they share a shingle — COMPLETE for any
    * containment > 0, no doc×doc join; the usual df-cap on
    * stop-shingles applies at web scale), and the refine joins carry
    * (id, id) pairs plus the two per-doc shingle arrays.  Returns
    * (id_a, id_b, c_ab, c_ba) for id_a < id_b where
    * max(c_ab, c_ba) >= threshold.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, w: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val sh = shingleSets(df, idCol, textCol, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = sh.select(col("id"), explode(col("sh")).as("__s"))
    val cand = inv.select(col("id").as("id_a"), col("__s"))
      .join(inv.select(col("id").as("id_b"), col("__s")), Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val pairs = cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("__sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("__sb")), Seq("id_b"))
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
      .select(col("id_a"), col("id_b"),
        round(col("__inter") / size(col("__sa")), 6).as("c_ab"),
        round(col("__inter") / size(col("__sb")), 6).as("c_ba"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
    CacheScope.releasing(pairs, sh)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every k-token gram, then in each window
    * of `w` consecutive gram hashes select the MINIMUM (rightmost on
    * ties) — the distinct selected (position, hash) pairs are the
    * document's fingerprint sketch.  Guarantee: any match of at least
    * w + k - 1 consecutive tokens between two documents shares at
    * least one fingerprint, at ~2/(w+1) the density of full shingling.
    *
    * The gram hash is an ENGINE-AGNOSTIC base-31 polynomial mod 2^31
    * over the gram's codepoints — winnowing selects by hash ORDER, so
    * cross-engine verification needs the identical hash function, not
    * just equal-vs-not (xxhash64 would verify as rows-only).  The
    * (hash, rightmost-pos) argmin is packed into one long
    * (`h·2^31 + (2^31−1−pos)`, exact for any pos < 2^31 since
    * h < 2^31 keeps the product below 2^62) so the
    * whole selection is a plain `min` window over a per-document
    * frame.  One token explode, two per-doc windows, one distinct —
    * linear in corpus tokens, no shuffle beyond the doc partitioning.
    *
    * @return (idCol, fp_pos, fp_hash) — one row per selected
    *         fingerprint; docs with fewer than w + k - 1 tokens have
    *         no full window and contribute no rows
    */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 2, w: Int = 4): DataFrame =
    winnowedFingerprintsOf(docs, idCol,
      TextAnalysis.tokens(col(textCol)), k, w)

  /** [[winnowedFingerprints]] over a CALLER-SUPPLIED token-array
    * expression — the hook that routes non-ASCII corpora through the
    * identical selection (the default tokenizer is the ASCII
    * `[a-z0-9']+` convention, which silently drops every non-Latin
    * script; a Unicode-aware `[\p{L}\p{N}']+` tokenizer plugs in here
    * without forking the winnowing arithmetic).  The gram hash is
    * already codepoint-exact (`ascii` returns full codepoints), so the
    * only ASCII assumption in the pipeline is the tokenizer.
    */
  def winnowedFingerprintsOf(docs: DataFrame, idCol: String,
      tokensExpr: Column, k: Int = 2, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 2, s"need k >= 1 and w >= 2, got k=$k w=$w")
    val toks = docs.select(col(idCol),
      posexplode(tokensExpr).as(Seq("__pos", "__tok")))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("__pos").rowsBetween(0, k - 1)
    val grams = toks
      .withColumn("__w", collect_list("__tok").over(wg))
      .filter(size(col("__w")) === k)
      .select(col(idCol), col("__pos"), concat_ws(" ", col("__w")).as("__g"))
    val hashed = grams.select(col(idCol), col("__pos"),
      aggregate(sequence(lit(1), length(col("__g"))), lit(0L),
        (acc, j) => (acc * 31 + ascii(col("__g").substr(j, lit(1))))
          % lit(2147483648L)).as("__h"))
    // Packed argmin key: h * 2^31 + (2^31-1 - pos).  h < 2^31 (the hash
    // is reduced mod 2^31) and pos < 2^31 by any physical document, so
    // the product tops out at 2^62-1 — no silent corruption at any
    // realistic token count (positions up to ~2.1e9 are exact).
    val keyed = hashed.select(col(idCol), col("__pos"),
      (col("__h") * 2147483648L + (lit(2147483647L) - col("__pos"))).as("__k"))
    val ww = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("__pos").rowsBetween(0, w - 1)
    keyed
      .withColumn("__mk", min(col("__k")).over(ww))
      .withColumn("__n", count(lit(1)).over(ww))
      .filter(col("__n") === w)
      .select(col(idCol),
        (lit(2147483647L) - pmod(col("__mk"), lit(2147483648L))).as("fp_pos"),
        expr("__mk div 2147483648").as("fp_hash"))
      .distinct()
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash of the token multiset, computed by the fused
    * [[graft.functions.SimHash64]] codegen expression: one pass over
    * each document's token array at the SCAN stage — no explode, no
    * 64-column vote aggregation, no shuffle beyond the 8-byte
    * signature itself.  Bit-identical to the explode + groupBy-sum
    * formulation it replaced (the spec pins this); documents with no
    * tokens produce no signature row, same as vanishing at the explode.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.simhash64(TextAnalysis.tokens(col(textCol)))
          .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs with hamming distance <= maxDist, using
    * 4×16-bit chunk banding (pigeonhole sound for maxDist <= 3) and the
    * codegen'd hamming64 refine.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    // The banded self-join reads the signature table twice — cache the
    // 64-bit sigs (one long per doc) so the vote aggregation runs once.
    val sigs = simhash(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map { c =>
        col("simhash").bitwiseAND(lit(0xffffL << (16 * c)))
      }: _*)).as(Seq("chunk", "key")))
    val l = banded.select(col("chunk"), col("key"),
      col("id").as("id_a"), col("simhash").as("sig_a"))
    val r = banded.select(col("chunk"), col("key"),
      col("id").as("id_b"), col("simhash").as("sig_b"))
    val pairs = l.join(r, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
    CacheScope.releasing(pairs, sigs)
  }

  // ------------------------------------------------- frequent-unit scrub

  /** Corpus-frequency boilerplate removal at UNIT granularity — the
    * Dolma / RefinedWeb "line dedup" pass (Soldaini et al. 2024;
    * Penedo et al. 2023): a unit (line, sentence, paragraph — anything
    * a delimiter bounds) that occurs in at least `minDocs` DISTINCT
    * documents is boilerplate (nav bars, cookie banners, license
    * headers) and is cut from every document; survivors re-join in
    * order.  This removes repeated LINES from documents that are not
    * themselves duplicates — the pass exact/MinHash doc-level dedup
    * cannot do, and the complement of [[SpanDedup]]'s keep-first
    * policy (here NO occurrence survives: the unit is noise, not
    * content).
    *
    * Scale design: units collapse to 64-bit xxhash at the scan, so the
    * distinct-doc count shuffles (hash, id) 16-byte pairs — two
    * map-side-combined aggregations, never unit text.  The frequent
    * set is ≤ totalUnits/minDocs rows by construction (AQE broadcasts
    * it when small).  Rebuild is one groupBy(id) whose collect_list is
    * bounded by document length — the span-ops contract.  Counts are
    * exact up to 64-bit hash collisions (the [[SpanDedup]] birthday
    * bound).
    *
    * @param delim literal (non-regex) unit delimiter, e.g. "\n"
    * @return one row per input doc: (idCol, clean_text, n_units,
    *         n_removed); a fully-boilerplate doc yields clean_text ""
    */
  def frequentUnitRemoval(docs: DataFrame, idCol: String, textCol: String,
      delim: String, minDocs: Int): DataFrame = {
    require(delim.nonEmpty, "delimiter must be non-empty")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val units = docs.select(col(idCol),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(delim))).as(Seq("__pos", "__u")))
      .withColumn("__h", xxhash64(col("__u")))
    val frequent = units.select(col("__h"), col(idCol)).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__h"), lit(1L).as("__rm"))
    val rebuilt = units.join(frequent, Seq("__h"), "left")
      .groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("__rm").isNull,
            struct(col("__pos"), col("__u"))))),
          x => x.getField("__u")), delim).as("clean_text"),
        count(lit(1)).as("n_units"),
        sum(coalesce(col("__rm"), lit(0L))).cast("long").as("n_removed"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_units"), lit(0L)).as("n_units"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }
}
