package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** UP-SCALE corpus derivation (maintenance main, not a gate): writes a
  * k× replica of a testdata directory for a FOURTH bench-ladder rung —
  * the super-linearity test (`Bench` scale ladder) gains a decade of
  * range exactly where the iterative graph/suffix ops' constants start
  * to matter, above the largest driver-provided SF.
  *
  * Replication preserves FK STRUCTURE, not just row counts: copy i
  * offsets every key domain by i·(domain size), applied to PKs and the
  * FKs that reference them alike — so the result behaves like k
  * disjoint shards of the same distribution (per-key group sizes, join
  * fan-outs, and selectivities are unchanged; only the DATA VOLUME is
  * k×).  Region/nation are schema-bounded dims and stay as-is.
  * Document texts get a per-copy suffix (copies must NOT be exact
  * clones — that would multiply the dup-cluster density and turn the
  * dedup gates' pair counts super-linear by construction, poisoning
  * the very exponent the rung measures); embeddings get per-copy
  * deterministic ±1% noise for the same reason (no tied vectors).
  *
  * Usage: runMain graft.ScaleCorpus <srcDir> <outDir> [k=3]
  * (the session is `GraftSession.builder()`'s, on `SPARK_GRAFT_CPUS`
  * cores).
  * Then:  SPARK_GRAFT_SF3_DIR=<outDir> … runMain graft.Bench — every
  * lineitem row is replicated exactly k times, so Bench takes the up
  * rung's factor k as the ratio of the two corpora's lineitem row
  * counts.
  */
object ScaleCorpus {

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf0.3"
    val k = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, src, out, k)
    println(s"SCALE CORPUS written: $out (x$k of $src)")
    spark.stop()
  }

  def write(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    require(k >= 2, s"replication factor must be >= 2, got $k")
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    def domN(df: DataFrame, c: String): Long = {
      val r = df.agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
      r.getLong(1) - r.getLong(0) + 1
    }
    /** k copies of df, each transformed by its copy index. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(df, i)).reduce(_ unionAll _)
    def shift(c: String, n: Long, i: Int): Column =
      (col(c).cast("long") + lit(i * n)).cast("long")

    val cust = rd("customer"); val ord = rd("orders"); val li = rd("lineitem")
    val part = rd("part"); val supp = rd("supplier")
    val ev = rd("events"); val docs = rd("documents")
    val emb = rd("embeddings")
    val cN = domN(cust, "c_custkey"); val oN = domN(ord, "o_orderkey")
    val pN = domN(part, "p_partkey"); val sN = domN(supp, "s_suppkey")
    val eN = domN(ev, "event_id"); val dN = domN(docs, "doc_id")
    val vN = domN(emb, "vec_id")

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(replicate(cust)((d, i) =>
      d.withColumn("c_custkey", shift("c_custkey", cN, i))), "customer")
    wr(replicate(supp)((d, i) =>
      d.withColumn("s_suppkey", shift("s_suppkey", sN, i))), "supplier")
    wr(replicate(part)((d, i) =>
      d.withColumn("p_partkey", shift("p_partkey", pN, i))), "part")
    wr(replicate(ord)((d, i) => d
      .withColumn("o_orderkey", shift("o_orderkey", oN, i))
      .withColumn("o_custkey", shift("o_custkey", cN, i))), "orders")
    wr(replicate(li)((d, i) => d
      .withColumn("l_orderkey", shift("l_orderkey", oN, i))
      .withColumn("l_partkey", shift("l_partkey", pN, i))
      .withColumn("l_suppkey", shift("l_suppkey", sN, i))), "lineitem")
    wr(replicate(ev)((d, i) => d
      .withColumn("event_id", shift("event_id", eN, i))
      .withColumn("user_id", shift("user_id", cN, i))), "events")
    wr(replicate(docs)((d, i) => d
      .withColumn("doc_id", shift("doc_id", dN, i))
      .withColumn("text",
        if (i == 0) col("text") else concat(col("text"), lit(s" s$i")))
      .withColumn("n_chars", length(
        if (i == 0) col("text") else concat(col("text"), lit(s" s$i")))
        .cast("long"))), "documents")
    wr(replicate(emb)((d, i) => d
      .withColumn("vec_id", shift("vec_id", vN, i))
      .withColumn("embedding",
        if (i == 0) col("embedding")
        else transform(col("embedding"), (v, j) =>
          (v + (pmod(xxhash64(col("vec_id"), j, lit(i)), lit(200)) -
            lit(100)).cast("float") / lit(10000.0f)).cast("float")))),
      "embeddings")
  }
}
