package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** Source/sink round-trips (SURVEY.md §2.1): parquet → {csv, json, orc,
  * text} → back, schema + values preserved; partitioned writes with
  * partition pruning; file streaming source reading a directory.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val nation = Tables.load(spark, sf, "nation")
  private def tmp(): String =
    graft.TmpCleanup.tempDir("graft_src")

  test("csv round-trip preserves values (header + explicit schema)") {
    val dir = tmp()
    nation.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(nation.schema).csv(dir)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("json round-trip with schema inference") {
    val dir = tmp()
    nation.write.mode("overwrite").json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == nation.count())
    val row = back.filter(col("n_nationkey") === 0).head()
    assert(row.getAs[String]("n_name") == nation.filter(col("n_nationkey") === 0)
      .head().getAs[String]("n_name"))
  }

  test("orc round-trip preserves schema and values") {
    val dir = tmp()
    nation.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == nation.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("text sink/source round-trips lines") {
    val dir = tmp()
    nation.select(col("n_name")).write.mode("overwrite").text(dir)
    val back = spark.read.text(dir).select(col("value"))
    assert(back.as[String].collect().sorted.toSeq ==
      nation.select("n_name").as[String].collect().sorted.toSeq)
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = tmp()
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("n_regionkey") === 1)
    assert(pruned.count() == nation.filter(col("n_regionkey") === 1).count())
    // pruning visible in the plan: only one partition directory scanned
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("n_regionkey=0") || scan.contains("n_regionkey=1"))
  }

  test("hive partitioned table: dynamic insert + metastore partition pruning") {
    Tables.registerAll(spark, sf)
    spark.conf.set("hive.exec.dynamic.partition.mode", "nonstrict")
    spark.sql("DROP TABLE IF EXISTS graft_src_part")
    spark.sql(
      """CREATE TABLE graft_src_part (n_nationkey INT, n_name STRING)
        |PARTITIONED BY (n_regionkey INT) STORED AS PARQUET""".stripMargin)
    spark.sql(
      """INSERT INTO graft_src_part PARTITION (n_regionkey)
        |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin)
    val pruned = spark.table("graft_src_part").filter(col("n_regionkey") === 2)
    assert(pruned.count() ==
      Tables.load(spark, sf, "nation").filter(col("n_regionkey") === 2).count())
    // partition filter must reach the scan as a PartitionFilter (pruned
    // directory listing), not a post-scan Filter over all partitions
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("n_regionkey"),
      s"expected partition pruning in:\n$plan")
    spark.sql("DROP TABLE IF EXISTS graft_src_part")
  }

  test("file streaming source processes a directory as a stream") {
    val dir = tmp()
    nation.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(nation.schema).parquet(dir)
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("file_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_stream").as[(Int, Long)].collect().toMap
      val want = nation.groupBy(col("n_regionkey")).count()
        .as[(Int, Long)].collect().toMap
      assert(got == want)
    } finally q.stop()
  }

  test("jdbc round-trip via embedded Derby with predicate pushdown") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val nation = Tables.load(spark, sf, "nation")
    nation.write.mode("overwrite")
      .format("jdbc").option("url", url).option("dbtable", "NATION_J")
      .save()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "NATION_J").load()
    assert(back.count() == nation.count())
    assert(back.columns.map(_.toLowerCase).toSet ==
      nation.columns.map(_.toLowerCase).toSet)
    // filters push into the JDBC scan, not a post-scan Filter
    val filtered = back.filter(col("N_REGIONKEY") === 3)
    assert(filtered.count() ==
      nation.filter(col("n_regionkey") === 3).count())
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("EqualTo(n_regionkey,3)"),
      s"JDBC scan should carry the pushed filter:\n$scan")
  }

  test("custom DSv2 TableProvider: partitioned parallel read, exact rows") {
    val df = spark.read.format("graft.sources.SquaresV2")
      .option("n", 100).option("slices", 8).load()
    assert(df.rdd.getNumPartitions == 8, "slices should map to input partitions")
    assert(df.count() == 100)
    val row = df.filter(col("id") === 9).collect().head
    assert(row.getLong(1) == 81 && row.getString(2) == "odd")
    // BatchScan node proves the DSv2 read path (not an RDD fallback)
    assert(df.queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  test("custom DSv2 source: hidden _slice metadata column resolves by " +
      "name and stays out of SELECT *") {
    val df = spark.read.format("graft.sources.SquaresV2")
      .option("n", 40).option("slices", 4).load()
    assert(df.columns.toSeq == Seq("id", "sq", "tag"),
      "metadata column must be hidden from the default projection")
    val got = df.select(col("id"), col("_slice"))
      .as[(Long, Long)].collect().toMap
    assert(got == (0L until 40L).map(i => i -> i / 10).toMap, got)
  }

  test("custom DSv2 source: reported statistics drive hint-free " +
      "broadcast selection") {
    def squares(n: Long) = spark.read.format("graft.sources.SquaresV2")
      .option("n", n).option("slices", 4).load()
    // small side reports ~2.4 KB via SupportsReportStatistics -> the
    // planner broadcasts it with NO hint; without reported stats a v2
    // relation defaults to defaultSizeInBytes and never auto-broadcasts
    val small = squares(100).join(squares(200000), "id")
    assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
      small.queryExecution.executedPlan.toString.take(2000))
    // two sides both far past the 10 MB threshold: no auto-broadcast
    val big = squares(30000000L).join(
      squares(40000000L).withColumnRenamed("sq", "sq2")
        .withColumnRenamed("tag", "tag2"), "id")
    assert(!big.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "oversized stats must not broadcast")
  }

  test("custom DSv2 source: filter and column pushdown reach the scan") {
    val df = spark.read.format("graft.sources.SquaresV2")
      .option("n", 1000000).option("slices", 8).load()
      .filter(col("id") >= 10 && col("id") < 20)
      .select(col("sq"))
    // range absorbed into the generator: 10 rows of work, not 1M
    assert(df.count() == 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("LessThan(id,20)") || plan.contains("range=[10,20)")),
      s"pushdown missing from scan description:\n$plan")
    assert(plan.contains("struct<sq:bigint>") || plan.contains("ReadSchema: struct<sq"),
      s"column pruning missing from scan description:\n$plan")
    assert(df.as[Long].collect().sorted.toSeq ==
      (10L until 20L).map(i => i * i).sorted.toSeq)
  }

  test("custom DSv2 source: complete LIMIT pushdown drops the Limit node") {
    val df = spark.read.format("graft.sources.SquaresV2")
      .option("n", 1000000000L).option("slices", 8).load()
      .limit(7)
    val out = df.collect()
    assert(out.length == 7)
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("PushedLIMIT") || plan.contains("PushedTOPN"),
      s"limit missing from scan description:\n$plan")
    assert(!plan.contains("GlobalLimit") && !plan.contains("CollectLimit"),
      s"fully-pushed limit must remove Spark's Limit node:\n$plan")
    assert(out.map(_.getLong(0)).toSet == (0L until 7L).toSet)
  }

  test("custom DSv2 source: complete top-N pushdown, both directions") {
    def topN(descending: Boolean) = {
      val base = spark.read.format("graft.sources.SquaresV2")
        .option("n", 1000000000L).option("slices", 8).load()
        .filter(col("id") >= 100 && col("id") < 2000000)
      val sorted = if (descending) base.orderBy(col("id").desc) else base.orderBy(col("id"))
      sorted.limit(5).select(col("id"), col("sq"))
    }
    val asc = topN(descending = false)
    assert(asc.collect().map(_.getLong(0)).toSeq == (100L to 104L))
    val desc = topN(descending = true)
    val out = desc.collect()
    // global order must BE the requested order: Sort was eliminated
    assert(out.map(_.getLong(0)).toSeq == (1999999L to 1999995L by -1))
    assert(out.map(_.getLong(1)).toSeq == (1999999L to 1999995L by -1).map(i => i * i))
    val plan = desc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("PushedTOPN id DESC 5"),
      s"top-N missing from scan description:\n$plan")
    assert(!plan.contains("TakeOrderedAndProject") && !plan.contains("Sort "),
      s"fully-pushed top-N must remove Spark's Sort/Limit:\n$plan")
  }

  test("custom DSv2 streaming source: micro-batches cover the bounded counter") {
    val name = "counter_v2_sink"
    val q = spark.readStream.format("graft.sources.CounterStreamV2")
      .option("n", 1000).option("rowsPerBatch", 300).option("slices", 4).load()
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table(name).collect()
    assert(rows.length == 1000)
    assert(rows.map(_.getLong(0)).sorted.toSeq == (0L until 1000L))
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) * r.getLong(0)))
    // 1000 rows at 300/batch needs >= 4 micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
  }

  test("custom DSv2 write: task rows publish atomically on driver commit") {
    import spark.implicits._
    graft.sources.MemSinkV2.clear("t1")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(3)
      .write.format("graft.sources.MemSinkV2")
      .option("name", "t1").mode("append").save()
    val rows = graft.sources.MemSinkV2.rows("t1")
    assert(rows.map(r => (r(0), r(1))).sortBy(_._1.asInstanceOf[Long]) ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite mode truncates atomically at commit (SupportsTruncate)
    Seq((9L, "z")).toDF("k", "v")
      .write.format("graft.sources.MemSinkV2")
      .option("name", "t1").mode("overwrite").save()
    val after = graft.sources.MemSinkV2.rows("t1")
    assert(after.map(r => (r(0), r(1))) == Seq((9L, "z")))
  }

  test("Trigger.AvailableNow drains a file source then stops on its own") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = graft.TmpCleanup.tempDir("graft_avail_now")
    spark.range(100).selectExpr("id", "id * id AS sq")
      .repartition(4).write.mode("overwrite").parquet(tmp)
    val name = "avail_now_sink"
    val q = spark.readStream
      .schema("id LONG, sq LONG")
      .option("maxFilesPerTrigger", 1)
      .parquet(tmp)
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive, "AvailableNow should self-terminate after draining")
    assert(spark.table(name).count() == 100)
  }

  test("jdbc-style predicate pushdown: filters reach the parquet scan") {
    val li = Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_quantity"))
    val scanStr = li.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanStr.contains("PushedFilters") &&
      scanStr.contains("GreaterThan(l_quantity,45.0"))
    // column pruning: ReadSchema carries only the 3 needed columns
    assert(scanStr.contains("l_orderkey") && !scanStr.contains("l_extendedprice"))
  }

  test("_metadata hidden column exposes file provenance per row") {
    val dir = tmp()
    nation.repartition(3).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("n_nationkey"),
        col("_metadata.file_name").as("f"),
        col("_metadata.row_index").as("ri"))
    val rows = df.collect()
    assert(rows.length == 25)
    val byFile = rows.groupBy(_.getString(1))
    assert(byFile.size == 3, s"3 written files, got ${byFile.keySet}")
    // row_index restarts per file and is dense within it
    byFile.values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (0L until rs.length))
    }
    // provenance prunes like any column: filter on file_name reads 1 file
    val one = byFile.keys.head
    assert(spark.read.parquet(dir)
      .filter(col("_metadata.file_name") === one).count() == byFile(one).length)
  }

  test("binaryFile source reads opaque blobs with path/length/content") {
    // the ingestion entry point for multimodal corpora: files land as
    // (path, modificationTime, length, content) rows, opaque bytes in
    // `content` — downstream decode is mapPartitions (ops.Multimodal)
    val dir = graft.TmpCleanup.tempDir("graft_binfiles")
    val payloads = Map("a.img" -> Array[Byte](1, 2, 3, 4),
      "b.img" -> Array[Byte](9, 8), "skip.txt" -> Array[Byte](0))
    payloads.foreach { case (name, bytes) =>
      Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img").load(dir)
    assert(df.schema.fieldNames.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val rows = df.collect().map(r => (
      r.getString(0).split('/').last,
      r.getLong(2),
      r.getAs[Array[Byte]]("content").toSeq)).toSet
    // glob filter keeps only the .img blobs, bytes round-trip exactly
    assert(rows == Set(("a.img", 4L, Seq[Byte](1, 2, 3, 4)),
      ("b.img", 2L, Seq[Byte](9, 8))))
    // predicate pushdown on file metadata: length filter prunes files
    val big = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img").load(dir)
      .filter(col("length") > 2)
    assert(big.count() == 1)
  }

  test("parquet schema evolution: mergeSchema unifies widened file schemas") {
    import spark.implicits._
    val dir = graft.TmpCleanup.tempDir("graft_merge_schema")
    // v1 files carry (k, a); later v2 files add column b
    Seq((1L, "x")).toDF("k", "a").write.parquet(dir + "/p=1")
    Seq((2L, "y", 9.5)).toDF("k", "a", "b").write.parquet(dir + "/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.schema.fieldNames.toSet == Set("k", "a", "b", "p"))
    val rows = merged.select("k", "b").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toSet
    // old files read the new column as null — no rewrite needed
    assert(rows == Set((1L, None), (2L, Some(9.5))))
  }

  test("malformed-record modes: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST throws") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = graft.TmpCleanup.tempDir("graft_malformed")
    Seq("1,alpha", "2,beta", "not-a-number,gamma", "4,delta")
      .toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("_corrupt", StringType)))
    // PERMISSIVE (default): bad row surfaces with its raw text captured
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
      .csv(dir).cache()
    assert(permissive.count() == 4)
    val bad = permissive.filter(col("_corrupt").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getString(2) == "not-a-number,gamma")
    permissive.unpersist()
    // DROPMALFORMED: bad row silently dropped
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").csv(dir)
    assert(dropped.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 4))
    // FAILFAST: the bad row aborts the scan
    val ex = intercept[org.apache.spark.SparkException] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").csv(dir).collect()
    }
    assert(ex.getMessage.contains("Malformed") ||
      Option(ex.getCause).exists(_.getMessage.contains("Malformed")))
  }
}
