package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order layout properties — the guarantees that make Morton
  * clustering worth a write-time shuffle at 100 TB.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private def grid(n: Int) =
    (0 until n).flatMap(x => (0 until n).map(y => (x, y))).toDF("x", "y")

  test("morton codes are a bijection on the 64x64 grid") {
    val codes = grid(64)
      .select(graft.functions.morton2(col("x"), col("y")).as("z"))
      .as[Long].collect()
    assert(codes.length == 4096)
    assert(codes.toSet.size == 4096, "interleave must be injective")
    assert(codes.min == 0L && codes.max == 4095L,
      "low 6+6 bits must fill exactly [0, 4096)")
  }

  test("an aligned power-of-2 tile is one contiguous run of the z-order") {
    // THE z-curve property file skipping relies on: sort the grid by
    // morton code and every aligned 16x16 tile occupies one contiguous
    // index range — so a 2-D box predicate maps to few file ranges.
    val sorted = grid(64)
      .withColumn("z", graft.functions.morton2(col("x"), col("y")))
      .orderBy(col("z"))
      .select(col("x"), col("y"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val inTile = sorted.zipWithIndex.collect {
      case ((x, y), i) if x >= 16 && x < 32 && y >= 32 && y < 48 => i
    }
    assert(inTile.length == 256)
    assert(inTile.last - inTile.head == 255,
      s"aligned tile must be contiguous, spanned ${inTile.head}..${inTile.last}")
  }

  test("zorder range-partitions into disjoint morton ranges") {
    val parts = Layout.zorder(grid(64), col("x"), col("y"), buckets = 8)
      .withColumn("z", graft.functions.morton2(col("x"), col("y")))
      .withColumn("pid", spark_partition_id())
      .groupBy(col("pid"))
      .agg(min(col("z")).as("lo"), max(col("z")).as("hi"), count(lit(1)).as("n"))
      .orderBy(col("lo"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(parts.map(_._3).sum == 4096)
    parts.sliding(2).foreach {
      case Array((_, hi1, _), (lo2, _, _)) =>
        assert(hi1 <= lo2, s"partition ranges must not overlap: $hi1 > $lo2")
      case _ =>
    }
    // clustering payoff: each bucket's 2-D bounding box is a fraction
    // of the domain (row-major buckets would span full-width stripes)
    val boxes = Layout.zorder(grid(64), col("x"), col("y"), buckets = 8)
      .withColumn("pid", spark_partition_id())
      .groupBy(col("pid"))
      .agg((max(col("x")) - min(col("x"))).as("dx"),
        (max(col("y")) - min(col("y"))).as("dy"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    // sampled range boundaries may straddle a quadrant seam, so a
    // couple of buckets can span wide — but MOST must be tight in both
    // dimensions (row-major stripes give dx=63 for every bucket)
    assert(boxes.count { case (dx, dy) => dx <= 32 && dy <= 32 } >= 5,
      s"z-order buckets should mostly be spatially tight, got ${boxes.mkString(",")}")
    assert(boxes.map(_._2).max <= 40,
      s"no bucket may span the full y range, got ${boxes.mkString(",")}")
  }

  // ------------------------------------------------------------ hilbert

  test("hilbert index is a bijection AND every consecutive pair is adjacent") {
    // the property Morton lacks: walk the full curve in index order and
    // every step is one Manhattan unit — no jumps across the square
    for (bits <- Seq(2, 3, 5)) {
      val n = 1 << bits
      val cells = grid(n)
        .select(col("x"), col("y"),
          graft.functions.hilbert2(col("x"), col("y"), bits).as("h"))
        .collect().map(r => (r.getLong(2), (r.getInt(0), r.getInt(1))))
      assert(cells.length == n * n)
      assert(cells.map(_._1).toSet == (0L until n.toLong * n).toSet,
        s"bits=$bits: indexes must fill [0, 4^bits) exactly once")
      val walk = cells.sortBy(_._1).map(_._2)
      val jumps = walk.sliding(2).collect {
        case Array((x1, y1), (x2, y2))
          if math.abs(x1 - x2) + math.abs(y1 - y2) != 1 => ((x1, y1), (x2, y2))
      }.toSeq
      assert(jumps.isEmpty, s"bits=$bits: non-adjacent steps $jumps")
    }
  }

  test("morton DOES jump; hilbert never does (the locality win)") {
    val n = 16
    def maxStep(codeCol: org.apache.spark.sql.Column): Int = {
      val walk = grid(n).withColumn("c", codeCol).orderBy(col("c"))
        .select(col("x"), col("y")).collect()
        .map(r => (r.getInt(0), r.getInt(1)))
      walk.sliding(2).map {
        case Array((x1, y1), (x2, y2)) => math.abs(x1 - x2) + math.abs(y1 - y2)
        case _ => 0
      }.max
    }
    assert(maxStep(graft.functions.hilbert2(col("x"), col("y"), 4)) == 1)
    assert(maxStep(graft.functions.morton2(col("x"), col("y"))) > 1,
      "morton must exhibit the jumps hilbert removes")
  }

  test("hilbert interpreted eval == codegen path; inputs masked to bits") {
    val expected = grid(8)
      .select(graft.functions.hilbert2(col("x"), col("y"), 3).as("h"))
      .as[Long].collect().toSeq
    val interp = (0 until 8).flatMap(x => (0 until 8).map(y =>
      graft.functions.HilbertIndex2D(
        org.apache.spark.sql.catalyst.expressions.Literal(x),
        org.apache.spark.sql.catalyst.expressions.Literal(y), 3)
        .eval(null).asInstanceOf[Long]))
    assert(expected == interp)
    // out-of-range coordinates wrap by masking, never throw
    val masked = Seq((8, 0), (0, 8), (1032, 1024)).toDF("x", "y")
      .select(graft.functions.hilbert2(col("x"), col("y"), 3).as("h"))
      .as[Long].collect()
    val base = Seq((0, 0), (0, 0), (8 % 8, 0)).map(_ => 0L)
    assert(masked.toSeq == base, s"masking must reduce mod 2^bits: ${masked.toSeq}")
  }

  test("hilbertOrder buckets are disjoint index ranges with tight boxes") {
    val parts = Layout.hilbertOrder(grid(64), col("x"), col("y"),
        buckets = 8, bits = 6)
      .withColumn("h", graft.functions.hilbert2(col("x"), col("y"), 6))
      .withColumn("p", org.apache.spark.sql.functions.spark_partition_id())
      .select(col("p"), col("h"), col("x"), col("y"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val byPart = parts.groupBy(_._1)
    // disjoint h-ranges across partitions
    val ranges = byPart.view.mapValues(v =>
      (v.map(_._2).min, v.map(_._2).max)).toSeq.sortBy(_._2._1)
    ranges.sliding(2).foreach {
      case Seq((_, (_, hi)), (_, (lo, _))) =>
        assert(hi < lo, s"overlapping hilbert ranges: $ranges")
      case _ =>
    }
    // unit-step adjacency ⇒ every bucket's bounding box area is close
    // to its cell count (a contiguous curve segment can't smear)
    byPart.foreach { case (p, v) =>
      val (w, h) = (v.map(_._3).max - v.map(_._3).min + 1,
        v.map(_._4).max - v.map(_._4).min + 1)
      assert(w.toLong * h <= 4L * v.length,
        s"bucket $p box ${w}x$h too loose for ${v.length} cells")
    }
  }

  // ── fanOut (round-16 input-skew guard) ──

  test("fanOut raises a monolithic scan to the bytes-derived target, " +
      "capped at default parallelism") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val before = docs.rdd.getNumPartitions
    val after = Layout.fanOut(docs).rdd.getNumPartitions
    val dp = spark.sparkContext.defaultParallelism
    assert(after <= math.max(before, dp),
      s"fanOut must never exceed max(planned=$before, parallelism=$dp), got $after")
    // bytes-derived target: sf0.001 documents are a few KB, so the
    // target is tiny and fanOut must NOT blast it to full parallelism
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes < 48L * 1024) assert(after == before,
      s"a sub-chunk input ($bytes B) must not be repartitioned, got $after")
  }

  test("fanOut raises a single-partition frame to the bytes-derived " +
      "target (positive repartition path)") {
    // synthetic monolithic input with KNOWN plan stats well above
    // several 48 KB chunks: Range stats are numElements * 8 bytes, so
    // the bytes-derived target is exact and the repartition path (not
    // just the no-op upper bounds) is asserted — r16 ADVICE: the
    // positive branch had no test at sf0.001
    val n = 400000L
    val mono = spark.range(0, n).toDF("id").coalesce(1)
    assert(mono.rdd.getNumPartitions == 1)
    val bytes = mono.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes >= 48L * 1024 * 4, s"stats too small to exercise: $bytes")
    val dp = spark.sparkContext.defaultParallelism
    val expected = math.min(dp.toLong,
      math.max(1L, bytes.toLong / (48L * 1024))).toInt
    val after = Layout.fanOut(mono).rdd.getNumPartitions
    assert(after == expected,
      s"bytes=$bytes dp=$dp: expected fanOut to $expected, got $after")
    assert(after > 1, "positive path must actually repartition")
  }

  test("fanOut leaves a frame with UNKNOWN plan stats alone") {
    // unknown stats (defaultSizeInBytes = Long.MaxValue: streaming
    // micro-batch frames, opaque sources) must mean "do not
    // repartition" — treating unknown as huge added a full-parallelism
    // exchange to every tiny micro-batch (r16 ADVICE)
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType))))
    val stats = tiny.queryExecution.optimizedPlan.stats.sizeInBytes
    if (stats >= BigInt(Long.MaxValue)) {
      assert(Layout.fanOut(tiny).rdd.getNumPartitions ==
        tiny.rdd.getNumPartitions,
        "unknown-stats frame must pass through unchanged")
    }
  }

  test("fanOut is a no-op when the scan already meets the parallelism") {
    val wide = spark.range(0, 1000, 1,
      spark.sparkContext.defaultParallelism * 2).toDF("id")
    val out = Layout.fanOut(wide)
    assert(out.rdd.getNumPartitions == wide.rdd.getNumPartitions,
      "an already-parallel frame must pass through unchanged")
    assert(out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => r
    }.isEmpty, "no exchange may be added to an already-parallel frame")
  }

  test("fanOut never changes an order-insensitive result") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    def fp(df: org.apache.spark.sql.DataFrame): Long =
      Dedup.shingleSets(df, "doc_id", "text", 3)
        .select(col("id"), explode(col("sh")).as("s"))
        .agg(sum(pmod(xxhash64(col("id"), col("s")), lit(1000000007L))).as("h"))
        .head().getLong(0)
    // identical multiset of (id, shingle) with and without the exchange
    assert(fp(Layout.fanOut(docs)) == fp(docs))
  }
}
