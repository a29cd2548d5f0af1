package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}

/** Storage-partitioned-join contract tests for [[BucketedKvV2]]: with
  * v2 bucketing enabled, an equi-join of two co-partitioned scans on
  * `k` must plan ZERO Exchange nodes and still equal the shuffled
  * answer computed with the optimization disabled.
  */
class BucketedKvV2Spec extends SparkSpec {

  private def table(rowsPer: Long, mult: Long): DataFrame =
    spark.read.format("graft.sources.BucketedKvV2")
      .option("parts", 8).option("rowsPer", rowsPer).option("mult", mult).load()

  private def joined: DataFrame = {
    val a = table(50, 3).as("a")
    val b = table(30, 7).as("b")
    a.join(b, "k").groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("a.v") + col("b.v")).as("sum_vv"))
      .orderBy("k")
  }

  private def withBucketing[T](on: Boolean)(body: => T): T =
    GraftSession.withConf(spark, "spark.sql.sources.v2.bucketing.enabled" -> on.toString)(body)

  test("co-partitioned join plans zero Exchange nodes") {
    withBucketing(on = true) {
      val df = joined
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected a storage-partitioned join with no shuffle, plan:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast equi-join, plan:\n$plan")
    }
  }

  test("SPJ answer equals the shuffled answer with bucketing disabled") {
    val spj = withBucketing(on = true) {
      joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val shuffled = withBucketing(on = false) {
      val df = joined
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange") || plan.contains("Broadcast"),
        "control run must actually shuffle or broadcast")
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    assert(spj == shuffled)
    // closed form for key k: 50*30 pairs; Σ_{i,j}(3i+k + 7j+k) over
    // i<50, j<30 = 30*3*(49*50/2) + 50*7*(29*30/2) + 1500*2k
    val expect = (0L until 8L).map(k =>
      (k, 1500L, 30L * 3 * 1225 + 50L * 7 * 435 + 1500L * 2 * k))
    assert(spj == expect)
  }

  test("single-side read is a plain scan with correct rows") {
    val rows = table(5, 2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for (k <- 0L until 8L; i <- 0L until 5L) yield (k, 2 * i + k)).toSet
    assert(rows == expect)
  }
}
