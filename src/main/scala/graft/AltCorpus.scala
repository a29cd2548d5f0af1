package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-regeneration FIRE DRILL (maintenance main, not a gate):
  * derives an alternate-seed twin of a testdata directory and re-runs
  * nothing itself — `graft.Verify <alt> … && selfcheck <alt>` against
  * the output is the drill.  The oracle-law class of bug (oracles that
  * silently assume THIS corpus: fixed selectivity fractions, "no
  * natural exact dups", round() landing on a true half-tie) has hit 3
  * times at driver regeneration boundaries; this surfaces them
  * in-round instead.
  *
  * The perturbation is deterministic (xxhash64-driven, seed in the
  * hash), FK-consistent, and distribution-preserving:
  *  - integer keys are remapped by an affine bijection on their dense
  *    domain, applied to PKs and every FK alike (join cardinalities
  *    keep their shape, specific key values and tie patterns all move);
  *  - money/value doubles jitter by whole cents (2-decimal contract
  *    kept), quantities/sizes by small integers, never below zero;
  *  - timestamps shift forward 0–29 days (date-range filters keep
  *    selecting; every date boundary moves);
  *  - document texts mutate their DUP structure: ~1/7 of docs become
  *    exact clones of a hash-picked other doc (new natural dups),
  *    ~1/11 get a token appended (old dups break);
  *  - embeddings get ±0.01-scale deterministic noise (neighbor ranks
  *    perturb, recall floors must hold on structure, not memorized
  *    ranks); labels permute;
  *  - row order is re-shuffled by hash (partition layouts change).
  *
  * Usage: runMain graft.AltCorpus <srcDir> <outDir> [seed=1337] [skew]
  * (the session is `GraftSession.builder()`'s, on `SPARK_GRAFT_CPUS`
  * cores).
  */
object AltCorpus {

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "/tmp/sf0.01-alt"
    val seed = if (args.length > 2) args(2).toLong else 1337L
    val skew = args.length > 3 && args(3) == "skew"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, src, out, seed, skew)
    println(s"ALT CORPUS written: $out (seed=$seed, skew=$skew)")
    spark.stop()
  }

  /** Affine bijection k ↦ ((a·(k−lo)+b) mod n) + lo over [lo, lo+n);
    * a is coprime to n by construction (odd a with fallback search). */
  private def remapExpr(c: String, lo: Long, n: Long, seed: Long)
      : org.apache.spark.sql.Column = {
    var a = (math.abs(seed) % n) | 1L // odd ⇒ coprime to powers of 2; fix up below
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    while (gcd(a % n, n) != 1) a += 2
    val b = math.abs(seed * 31) % n
    (((col(c).cast("long") - lit(lo)) * lit(a % n) + lit(b)) % lit(n) +
      lit(lo)).cast(org.apache.spark.sql.types.LongType)
  }

  /** Whole-cent jitter keeping 2 decimals and non-negativity. */
  private def jitterMoney(c: String, k: String, seed: Long)
      : org.apache.spark.sql.Column =
    round(greatest(col(c) +
      (pmod(xxhash64(col(k), lit(seed)), lit(100)) - lit(50)) / lit(100.0),
      lit(0.0)), 2)

  /** @param skew heavy-tail mode (round-15 drill): ON TOP of the
    *   standard perturbation, ~30% of lineitem rows land on ONE hot
    *   suppkey (join-key skew — the AQE-skew/salting class), ~30% of
    *   events land on ONE hot user_id (groupBy-key skew), ~30% of
    *   documents collapse onto ONE near-dup cluster + hot source
    *   (round 16 — text-space skew for the dedup/LSH bucket bounds),
    *   and ~30% of embeddings collapse into ONE dense cell (round 16 —
    *   embedding-space skew for the IVF/PQ/ANN per-cell bounds).  The alt
    *   drill had only ever varied VALUES; this varies DISTRIBUTION, so
    *   oracles (and per-key-bounded operators) that silently assume a
    *   benign key histogram get caught in-round.
    */
  def write(spark: SparkSession, src: String, out: String, seed: Long,
      skew: Boolean = false): Unit = {
    def rd(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    // single-FILE parquet like the driver's corpus (the DuckDB
    // selfcheck reads `<dir>/<t>.parquet` as one file, not a Spark dir)
    def wr(df: DataFrame, t: String): Unit = {
      val tmpDir = s"$out/__tmp_$t"
      df.orderBy(xxhash64(col(df.columns.head), lit(seed)))
        .coalesce(1)
        .write.mode("overwrite").parquet(tmpDir)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmpDir/part-*.parquet")).head.getPath
      val dst = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
      fs.delete(dst, true)
      fs.rename(part, dst)
      fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    }

    // key domains measured from the data (dense TPC-H-ish keys)
    def dom(df: DataFrame, c: String): (Long, Long) = {
      val r = df.agg(min(col(c)).cast("long"), max(col(c)).cast("long"))
        .head()
      (r.getLong(0), r.getLong(1) - r.getLong(0) + 1)
    }

    val cust = rd("customer"); val ord = rd("orders"); val li = rd("lineitem")
    val part = rd("part"); val supp = rd("supplier")
    val (cLo, cN) = dom(cust, "c_custkey")
    val (oLo, oN) = dom(ord, "o_orderkey")
    val (pLo, pN) = dom(part, "p_partkey")
    val (sLo, sN) = dom(supp, "s_suppkey")

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    wr(cust
      .withColumn("c_custkey", remapExpr("c_custkey", cLo, cN, seed))
      .withColumn("c_acctbal", jitterMoney("c_acctbal", "c_custkey", seed)),
      "customer")

    wr(supp
      .withColumn("s_suppkey", remapExpr("s_suppkey", sLo, sN, seed))
      .withColumn("s_acctbal", jitterMoney("s_acctbal", "s_suppkey", seed)),
      "supplier")

    wr(part
      .withColumn("p_partkey", remapExpr("p_partkey", pLo, pN, seed))
      .withColumn("p_retailprice", jitterMoney("p_retailprice", "p_partkey", seed))
      .withColumn("p_size", greatest(lit(1),
        col("p_size") + (pmod(xxhash64(col("p_partkey"), lit(seed)),
          lit(5)) - lit(2)).cast("int"))),
      "part")

    wr(ord
      .withColumn("o_orderkey", remapExpr("o_orderkey", oLo, oN, seed))
      .withColumn("o_custkey", remapExpr("o_custkey", cLo, cN, seed))
      .withColumn("o_totalprice", jitterMoney("o_totalprice", "o_orderkey", seed))
      .withColumn("o_orderdate", col("o_orderdate") + make_dt_interval(
        pmod(xxhash64(col("o_orderkey"), lit(seed + 1)), lit(30)))),
      "orders")

    // heavy tail: AFTER the bijective remap, pull ~30% of rows onto the
    // hot key — deterministic by row identity, FK-valid (the hot key is
    // a real remapped-domain member)
    def skewTo(c: org.apache.spark.sql.Column, hot: Long,
        idCols: Seq[org.apache.spark.sql.Column], s2: Long)
        : org.apache.spark.sql.Column =
      if (!skew) c
      else when(pmod(xxhash64(idCols :+ lit(s2): _*), lit(10)) < 3,
        lit(hot)).otherwise(c)

    wr(li
      .withColumn("l_orderkey", remapExpr("l_orderkey", oLo, oN, seed))
      .withColumn("l_partkey", remapExpr("l_partkey", pLo, pN, seed))
      .withColumn("l_suppkey", skewTo(
        remapExpr("l_suppkey", sLo, sN, seed), sLo,
        Seq(col("l_orderkey"), col("l_linenumber")), seed + 11))
      .withColumn("l_quantity", greatest(lit(1.0), col("l_quantity") +
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed)),
          lit(5)) - lit(2)).cast("double")))
      .withColumn("l_extendedprice",
        jitterMoney("l_extendedprice", "l_orderkey", seed))
      .withColumn("l_shipdate", col("l_shipdate") + make_dt_interval(
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed + 2)),
          lit(30)))),
      "lineitem")

    wr(rd("events")
      .withColumn("user_id", skewTo(
        remapExpr("user_id", cLo, cN, seed), cLo,
        Seq(col("event_id")), seed + 13))
      .withColumn("value", round(col("value") +
        (pmod(xxhash64(col("event_id"), lit(seed)), lit(100)) - lit(50)) /
          lit(1000.0), 4))
      .withColumn("ts", col("ts") + make_dt_interval(lit(0), lit(0),
        pmod(xxhash64(col("event_id"), lit(seed + 3)), lit(120)))),
      "events")

    // documents: mutate the dup structure both ways.  Skew mode
    // (round-16 drill): ~30% of docs collapse onto ONE near-dup
    // cluster AND one hot `source` (domain) — a third exact clones of
    // the hot doc, the rest one-token variants of it (high-Jaccard
    // near-dups), so the exact-dedup hash buckets, the MinHash-LSH
    // band buckets, SimHash, winnowing AND any per-source bound all
    // see a genuinely hot key, not a benign histogram.
    val docs = rd("documents")
    val nDocs = docs.count()
    val hotDoc = docs.orderBy("doc_id").select("text", "source").head()
    val (hotText, hotSource) = (hotDoc.getString(0), hotDoc.getString(1))
    val cloneSrc = docs.select(col("doc_id").as("src_id"),
      col("text").as("src_text"))
    val docHot =
      if (!skew) lit(false)
      else pmod(xxhash64(col("doc_id"), lit(seed + 17)), lit(10)) < 3
    wr(docs
      .withColumn("clone_of",
        when(pmod(col("doc_id"), lit(7)) === 3,
          pmod(xxhash64(col("doc_id"), lit(seed)), lit(nDocs)))
          .otherwise(lit(-1L)))
      .join(cloneSrc, col("clone_of") === col("src_id"), "left")
      .withColumn("text",
        when(docHot && pmod(xxhash64(col("doc_id"), lit(seed + 19)),
          lit(3)) === 0, lit(hotText))
          .when(docHot, concat(lit(hotText), lit(" v"),
            pmod(col("doc_id"), lit(7))))
          .when(col("src_text").isNotNull, col("src_text"))
          .when(pmod(col("doc_id"), lit(11)) === 5,
            concat(col("text"), lit(" altseed")))
          .otherwise(col("text")))
      .withColumn("source",
        when(docHot, lit(hotSource)).otherwise(col("source")))
      .drop("clone_of", "src_id", "src_text")
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")

    // embeddings: deterministic ±1% noise per dimension, labels
    // permute.  Skew mode: ~30% of vectors collapse into ONE dense
    // cell — the hot (min-vec_id) vector plus ±0.001 per-dimension
    // jitter — so every LSH bucket / IVF cell / PQ coarse cell that
    // partitions the embedding space gets a hot cell, exercising the
    // per-cell bounds the dedup/ANN gates rely on.
    val emb = rd("embeddings")
    val (lLo, lN) = dom(emb, "label")
    val hotVec: Seq[Float] = emb.orderBy("vec_id").select("embedding")
      .head().getSeq[Float](0)
    val vecHot =
      if (!skew) lit(false)
      else pmod(xxhash64(col("vec_id"), lit(seed + 23)), lit(10)) < 3
    wr(emb
      .withColumn("embedding", transform(col("embedding"), (v, i) =>
        (v + (pmod(xxhash64(col("vec_id"), i, lit(seed)), lit(200)) -
          lit(100)).cast("float") / lit(10000.0f)).cast("float")))
      .withColumn("embedding",
        when(vecHot, transform(
          array(hotVec.map(lit): _*), (v, i) =>
            (v.cast("float") +
              (pmod(xxhash64(col("vec_id"), i, lit(seed + 29)), lit(20)) -
                lit(10)).cast("float") / lit(10000.0f)).cast("float")))
          .otherwise(col("embedding")))
      .withColumn("label",
        remapExpr("label", lLo, lN, seed).cast("int")),
      "embeddings")
  }
}
