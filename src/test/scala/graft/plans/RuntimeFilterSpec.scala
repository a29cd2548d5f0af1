package graft.plans

import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec, Tables}

/** Runtime row- and partition-level filtering — the two optimizer
  * features that matter most for 100 TB star joins: dynamic partition
  * pruning (the probe side's partitions are pruned by the dim filter's
  * runtime result) and runtime bloom-filter injection (the fact scan is
  * pre-filtered by a bloom filter built from the selective side before
  * the shuffle).
  */
class RuntimeFilterSpec extends SparkSpec {

  test("dynamic partition pruning injects a runtime subquery filter") {
    Tables.registerAll(spark, sf)
    val dir = graft.TmpCleanup.tempDir("graft_dpp")
    // fact partitioned by nation key; dim filter selects 1 of 5 regions
    Tables.load(spark, sf, "customer")
      .write.mode("overwrite").partitionBy("c_nationkey").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Tables.load(spark, sf, "nation").filter(col("n_regionkey") === 2)
    val q = fact.join(dim, col("c_nationkey") === col("n_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(12,2)")).as("bal"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"partitioned probe side should carry a dynamic pruning filter:\n$plan")
    // values must match the unpruned twin
    val expected = Tables.load(spark, sf, "customer")
      .join(dim, col("c_nationkey") === col("n_nationkey"))
      .agg(count(lit(1)),
        sum(col("c_acctbal").cast("decimal(12,2)"))).head()
    assert(q.head() == expected)
  }

  test("runtime bloom filter pre-filters the fact side of a selective join") {
    Tables.registerAll(spark, sf)
    GraftSession.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // gate-scale data sits far below the production thresholds (10 MB
      // creation / 10 GB application) — lower them so the rewrite the
      // 100 TB plan would get fires here too
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.load(spark, sf, "lineitem")
      val p = Tables.load(spark, sf, "part").filter(col("p_size") === 1)
      val q = li.join(p, col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("bloom_filter") || optimized.contains("BloomFilter"),
        s"selective dim should inject a bloom filter on the fact scan:\n$optimized")
      // exactness: bloom pre-filtering admits false positives only
      // before the real join — the result is identical
      val expected = li.join(p, col("l_partkey") === col("p_partkey")).count()
      assert(q.head().getLong(0) == expected)
    }
  }
}
