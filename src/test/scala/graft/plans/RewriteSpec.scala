package graft.plans

import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec, Tables}

/** Spark's own optimizer at work on graft plans: AQE's runtime
  * partition coalescing and skew-join splitting (the other half of the
  * 100 TB skew story next to PipelineOps.saltedCountSum), CBO join
  * reordering after ANALYZE, and equi-height histogram column stats.
  */
class RewriteSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge-join partition at runtime") {
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    GraftSession.withConf(spark, confs.toSeq: _*) {
      // left: 300k rows, half piled on key 0; right omits key 0 so the
      // join output stays small while the skewed partition is real.
      val left = spark.range(300000)
        .select(when(col("id") % 2 === 0, lit(0L))
          .otherwise(col("id") % 4096).as("k"), col("id").as("v"))
      val right = spark.range(1, 4096).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      val n = joined.count()
      assert(n > 0)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.toLowerCase.contains("skew"),
        s"expected a skew-split join in the final adaptive plan:\n$finalPlan")
    }
  }

  test("AQE coalesces tiny shuffle partitions at runtime") {
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "67108864",
      "spark.sql.shuffle.partitions" -> "64")
    GraftSession.withConf(spark, confs.toSeq: _*) {
      // 64 shuffle partitions of a few KB each: AQE must fuse them
      // instead of scheduling 64 near-empty reducers
      val agg = spark.range(10000)
        .groupBy((col("id") % 512).as("k")).count()
      agg.collect()
      val finalPlan = agg.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead") &&
        finalPlan.contains("coalesced"),
        s"expected a coalesced AQE shuffle read:\n$finalPlan")
      val parts = agg.rdd.getNumPartitions
      assert(parts < 64, s"expected far fewer than 64 reducers, got $parts")
    }
  }

  test("CBO reorders a join after ANALYZE (reference CostBasedJoinReorder)") {
    // Syntactically bad order: two facts joined first, the selective
    // tiny dimension last.  With catalog stats + CBO the DP join
    // reorder must pull the tiny table into the innermost join so the
    // fact is reduced before the fact⋈fact join — the plan change the
    // reference implements in CostBasedJoinReorder.scala:35.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Tables.registerAll(spark, sf)
    Seq("cbo_li", "cbo_ord", "cbo_tiny").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql("CREATE TABLE cbo_li USING parquet AS SELECT l_orderkey, l_suppkey FROM lineitem")
    spark.sql("CREATE TABLE cbo_ord USING parquet AS SELECT o_orderkey FROM orders")
    spark.sql("CREATE TABLE cbo_tiny USING parquet AS SELECT DISTINCT s_suppkey FROM supplier WHERE s_suppkey < 3")
    val sqlText =
      """SELECT count(*) AS n FROM cbo_li
        |JOIN cbo_ord ON l_orderkey = o_orderkey
        |JOIN cbo_tiny ON l_suppkey = s_suppkey""".stripMargin
    def innermostJoinStr: String = {
      val joins = spark.sql(sqlText).queryExecution.optimizedPlan
        .collect { case j: Join => j }
      joins.last.toString // pre-order collect: last = deepest join
    }
    try {
      Seq("cbo_li", "cbo_ord", "cbo_tiny").foreach { t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
      }
      spark.sql("ANALYZE TABLE cbo_li COMPUTE STATISTICS FOR COLUMNS l_orderkey, l_suppkey")
      spark.sql("ANALYZE TABLE cbo_ord COMPUTE STATISTICS FOR COLUMNS o_orderkey")
      spark.sql("ANALYZE TABLE cbo_tiny COMPUTE STATISTICS FOR COLUMNS s_suppkey")
      val before = innermostJoinStr
      assert(!before.contains("cbo_tiny"),
        s"without CBO the innermost join should be the syntactic li⋈ord:\n$before")
      val expected = spark.sql(sqlText).head().getLong(0)
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      try {
        val after = innermostJoinStr
        assert(after.contains("cbo_tiny"),
          s"CBO should move the selective tiny table into the innermost join:\n$after")
        // semantics unchanged by the reorder
        assert(spark.sql(sqlText).head().getLong(0) == expected)
      } finally {
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      }
    } finally Seq("cbo_li", "cbo_ord", "cbo_tiny").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("CBO + AQE end-to-end on a real ops composition: Scd2's " +
      "change-batch join flips to broadcast via stats (static) and via " +
      "runtime size (adaptive), results identical") {
    // The production shape: a versioned dimension maintained by
    // Scd2.apply with a change batch that is a SELECTIVE slice of a
    // catalog table.  Without column stats the filtered batch is
    // estimated at the full file size (SizeOnly visitor passes Filter
    // through) → sort-merge; ANALYZE + CBO shrink the estimate under
    // the threshold → static broadcast; with AQE the runtime size
    // flips it even without stats.  All three legs must agree on rows.
    val dir = "/root/testdata/sf0.01" // sf0.001's tables sit under the
                                      // lowered threshold unfiltered
    Seq("cbo_scd_dim", "cbo_scd_chg").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("key"), col("c_mktsegment").as("attr"),
        lit(1L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      .write.saveAsTable("cbo_scd_dim")
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("key"), lit("SEG_NEW").as("attr"))
      .write.saveAsTable("cbo_scd_chg")
    def run(): (String, Seq[(Long, String, Long, Option[Long])]) = {
      val out = graft.ops.Scd2.apply(
        spark.table("cbo_scd_dim"),
        spark.table("cbo_scd_chg").filter(col("key") < 30L),
        version = 2L)
      val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sortBy(t => (t._1, t._3)).toSeq
      (out.queryExecution.executedPlan.toString, rows)
    }
    // leg A — no stats, no AQE: file-size estimate of the unfiltered
    // table keeps the change batch above threshold → no broadcast
    try GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "2KB",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "false") {
      val (planA, rowsA) = run()
      assert(!planA.contains("BroadcastHashJoin"),
        s"leg A must sort-merge everywhere:\n$planA")
      // leg B — AQE, still no stats: the RUNTIME size of the filtered
      // batch flips the apply join to broadcast mid-query
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val (planB, rowsB) = run()
      assert(planB.contains("BroadcastHashJoin"),
        s"AQE must flip the change-batch join at runtime:\n$planB")
      assert(rowsB == rowsA, "AQE re-plan changed results")
      // leg C — CBO + column stats, AQE off: FilterEstimation shrinks
      // the ESTIMATE itself, so the STATIC plan already broadcasts
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.sql("ANALYZE TABLE cbo_scd_chg COMPUTE STATISTICS")
      spark.sql(
        "ANALYZE TABLE cbo_scd_chg COMPUTE STATISTICS FOR COLUMNS key, attr")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val (planC, rowsC) = run()
      assert(planC.contains("BroadcastHashJoin"),
        s"CBO stats must produce a STATIC broadcast plan:\n$planC")
      assert(rowsC == rowsA, "CBO reorder changed results")
    } finally {
      Seq("cbo_scd_dim", "cbo_scd_chg").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("equi-height histogram column stats: ANALYZE computes bins via " +
      "ApproxCountDistinctForIntervals, and the histogram's skew-aware " +
      "selectivity flips a join side that min/max estimation cannot") {
    // A column where 99% of the mass sits at one value: min/max-based
    // FilterEstimation assumes a UNIFORM spread over [0, 99], so
    // `k >= 1` estimates ~99% surviving; the equi-height histogram
    // (reference ApproxCountDistinctForIntervals.scala:44, consumed by
    // AnalyzeColumnCommand) sees ~251 of 254 bins pinned at 0 and
    // estimates ~1%.  Setting the broadcast threshold between the two
    // byte estimates makes the join side flip STATICALLY from the
    // histogram alone — the CBO behavior the raw column stats can't
    // reproduce.
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    Seq("hist_skew", "hist_probe").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.range(100000).selectExpr(
        "CASE WHEN id % 100 = 0 THEN CAST(id % 99 AS INT) + 1 ELSE 0 END AS k",
        "CAST(id % 1000 AS INT) AS j",
        "id AS payload")
      .write.saveAsTable("hist_skew")
    spark.range(50000)
      .selectExpr("CAST(id % 1000 AS INT) AS j", "id AS probe_payload")
      .write.saveAsTable("hist_probe")
    val sqlText =
      """SELECT count(*) AS n FROM hist_probe p
        |JOIN hist_skew s ON p.j = s.j WHERE s.k >= 1""".stripMargin
    def skewFilterStats = {
      val filters = spark.sql(sqlText).queryExecution.optimizedPlan
        .collect { case f: LFilter if f.toString.contains("k#") => f }
      assert(filters.nonEmpty, "expected the k >= 1 Filter to survive")
      filters.head.stats
    }
    def colStatK = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("hist_skew")).stats.get.colStats("k")
    try GraftSession.withConf(spark, "spark.sql.cbo.enabled" -> "false",
        "spark.sql.statistics.histogram.enabled" -> "false",
        "spark.sql.adaptive.enabled" -> "false") {
      Seq("hist_skew", "hist_probe").foreach(t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS"))
      spark.sql("ANALYZE TABLE hist_probe COMPUTE STATISTICS FOR COLUMNS j")
      spark.sql("ANALYZE TABLE hist_skew COMPUTE STATISTICS FOR COLUMNS k, j")
      assert(colStatK.histogram.isEmpty,
        "histogram must not appear until the flag enables it")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      val estNo = skewFilterStats
      // re-ANALYZE under the histogram flag: this is the code path that
      // runs ApproxCountDistinctForIntervals (percentiles → per-bin ndv)
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      spark.sql("ANALYZE TABLE hist_skew COMPUTE STATISTICS FOR COLUMNS k, j")
      val hist = colStatK.histogram.getOrElse(
        fail("equi-height histogram missing from catalog column stats"))
      val expectBins =
        spark.conf.get("spark.sql.statistics.histogram.numBins").toInt
      assert(hist.bins.length == expectBins,
        s"expected $expectBins equi-height bins, got ${hist.bins.length}")
      assert(hist.height * hist.bins.length >= 100000 * 0.99,
        "bin height × bins should cover the table")
      assert(hist.bins.forall(_.ndv >= 1),
        "every bin needs a per-bin ndv from ApproxCountDistinctForIntervals")
      // >= 80% of bins pinned at the skew value 0
      assert(hist.bins.count(b => b.hi == 0.0) >= (expectBins * 0.8).toInt,
        "skew mass should pin most bins at 0")
      val estHist = skewFilterStats
      val rowsNo = estNo.rowCount.get.toLong
      val rowsHist = estHist.rowCount.get.toLong
      assert(rowsHist * 5 < rowsNo,
        s"histogram must shrink the k >= 1 estimate (uniform $rowsNo vs " +
          s"histogram $rowsHist; true survivors = 1000)")
      // place the broadcast threshold between the two BYTE estimates:
      // static planning must now broadcast the filtered skew side only
      // because the histogram shrank it
      val thresh = math.sqrt(
        estHist.sizeInBytes.toDouble * estNo.sizeInBytes.toDouble).toLong
      GraftSession.withConf(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> thresh.toString) {
        val planWith = spark.sql(sqlText).queryExecution.sparkPlan.toString
        assert(planWith.contains("BroadcastHashJoin"),
          s"histogram estimate under threshold $thresh must broadcast:\n$planWith")
        // same threshold, histogram dropped (plain re-ANALYZE): back to SMJ
        spark.conf.set("spark.sql.statistics.histogram.enabled", "false")
        spark.sql("ANALYZE TABLE hist_skew COMPUTE STATISTICS FOR COLUMNS k, j")
        assert(colStatK.histogram.isEmpty, "re-ANALYZE must drop the histogram")
        val planWithout = spark.sql(sqlText).queryExecution.sparkPlan.toString
        assert(!planWithout.contains("BroadcastHashJoin"),
          s"without the histogram the same threshold must sort-merge:\n$planWithout")
        // the flip is an estimate change only — results identical
        assert(spark.sql(sqlText).head().getLong(0) == 1000L * 50)
      }
    } finally {
      Seq("hist_skew", "hist_probe").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
