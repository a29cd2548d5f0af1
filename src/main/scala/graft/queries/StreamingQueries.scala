package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Structured Streaming surfaced through the CORRECTNESS gate: the
  * events table is replayed through a file stream in micro-batches,
  * the streaming operators run with real state-store semantics, and
  * the final in-memory table must equal the batch oracle — proving the
  * incremental execution converges to the relational answer.
  *
  * Replay is file-based (write N parquet chunks, readStream with
  * maxFilesPerTrigger=1): the write is distributed and nothing is ever
  * collected to the driver, so the same gate shape works at any SF —
  * unlike a MemoryStream, which would materialize the table in the
  * driver JVM.
  */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  private val runId = new AtomicInteger(0)

  /** Run a streaming job with 4 state-store partitions: per-trigger
    * cost of a stateful operator is dominated by state-store instances
    * (= shuffle partitions), not rows, and 4 is plenty for gate-scale
    * state while still exercising partitioned state.  The session
    * default is restored afterwards; only the eager streaming run
    * inside `body` is affected (the lazy batch projection each entry
    * returns plans later, under the default).
    */
  private[queries] def withStatePartitions[T](s: SparkSession)(body: => T): T =
    GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "4")(body)

  /** Write the (projected) events to a temp dir as `chunks` parquet
    * files and open a file stream over them, one file per micro-batch.
    */
  private[queries] def replay(s: SparkSession, df: DataFrame, chunks: Int,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val tmp = graft.TmpCleanup.tempDir("graft_stream_replay")
    df.repartition(chunks).write.mode("overwrite").parquet(tmp)
    s.readStream
      .schema(df.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(tmp)
  }

  /** ORDER-PRESERVING replay: each chunk becomes one file with a
    * strictly increasing (fixed, deterministic) modification time, so
    * FileStreamSource — which orders files by (modTime, path) — serves
    * chunk i as micro-batch i.  Required for order-SENSITIVE stateful
    * operators (sessionization); the plain `replay` above shuffles rows
    * across batches and is only sound for order-free aggregations.
    */
  private[queries] def orderedReplay(s: SparkSession, chunks: Seq[DataFrame],
      maxFilesPerTrigger: Int = 1): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val dir = graft.TmpCleanup.tempDir("graft_ordered_replay")
    chunks.zipWithIndex.foreach { case (df, i) =>
      val stage = graft.TmpCleanup.tempDir(s"graft_ordered_stage_$i")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(dir, f"chunk_$i%03d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst,
        FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    s.readStream.schema(chunks.head.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)
  }

  val queries: Map[String, Q] = Map(
    // Tumbling-window aggregation: state merges across 2 micro-batches,
    // complete-mode memory sink, equals the batch GROUP BY oracle.
    "q_stream_tumbling" -> { (s, dir) =>
      val src = Tables.load(s, dir, "events")
        .select(col("ts"), col("event_type"),
          col("value").cast("decimal(12,2)").as("v"))
      val stream = replay(s, src, chunks = 2)
      val name = s"stream_tumbling_${runId.incrementAndGet()}"
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      withStatePartitions(s) {
        val q = agg.writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name)
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("h"),
          col("event_type"), col("n"), col("total").cast("double").as("total"))
        .orderBy(col("h"), col("event_type"))
    },

    // Streaming deduplication: dropDuplicates state across micro-batches
    // in append mode; the emitted key set equals batch DISTINCT.  Only
    // the key is output — which concrete row survives per key depends
    // on partition order and is not part of the operator's contract.
    // Streaming rolling-anomaly parity: the integer-exact trailing-20
    // z-score test runs as flatMapGroupsWithState (bounded n-long state
    // per user) over a time-ordered 3-chunk replay; the flag stream
    // must equal the batch operator — which the DuckDB oracle
    // recomputes independently.
    "q_stream_anomaly" -> { (s, dir) =>
      val s2 = s
      import s2.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 5 === 1)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val b = ev.agg(min(col("ts").cast("long")).as("lo"),
        max(col("ts").cast("long")).as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val stream = orderedReplay(s, Seq(
        ev.filter(col("ts").cast("long") <= t1),
        ev.filter(col("ts").cast("long") > t1 &&
          col("ts").cast("long") <= t2),
        ev.filter(col("ts").cast("long") > t2)))
      val name = s"stream_anomaly_${runId.incrementAndGet()}"
      val flags = graft.streaming.Streaming.rollingAnomalies(
        stream.as[graft.streaming.Event], n = 20, z = 3)
      withStatePartitions(s) {
        val q = flags.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy(col("user_id"), col("event_id"))
    },

    // Live integer-EWMA level monitor: one long of state per user,
    // arithmetic-shift floor recurrence over a time-ordered 3-chunk
    // replay; the full trace equals the DuckDB recursive-CTE replay
    // bit for bit (floored // == >> 3, including negatives).
    "q_stream_ewma" -> { (s, dir) =>
      val s2 = s
      import s2.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 7 === 3)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val b = ev.agg(min(col("ts").cast("long")).as("lo"),
        max(col("ts").cast("long")).as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val stream = orderedReplay(s, Seq(
        ev.filter(col("ts").cast("long") <= t1),
        ev.filter(col("ts").cast("long") > t1 &&
          col("ts").cast("long") <= t2),
        ev.filter(col("ts").cast("long") > t2)))
      val name = s"stream_ewma_${runId.incrementAndGet()}"
      val trace = graft.streaming.Streaming.ewmaTrace(
        stream.as[graft.streaming.Event])
      withStatePartitions(s) {
        val q = trace.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy(col("user_id"), col("event_id"))
    },

    // Holt level+trend monitor: alpha=beta=1/8 fixed point, two longs
    // of state per user over the time-ordered replay; the
    // level/trend/forecast trace equals the DuckDB recursive-CTE
    // replay bit for bit.
    "q_stream_holt" -> { (s, dir) =>
      val s2 = s
      import s2.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 11 === 4)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val b = ev.agg(min(col("ts").cast("long")).as("lo"),
        max(col("ts").cast("long")).as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val stream = orderedReplay(s, Seq(
        ev.filter(col("ts").cast("long") <= t1),
        ev.filter(col("ts").cast("long") > t1 &&
          col("ts").cast("long") <= t2),
        ev.filter(col("ts").cast("long") > t2)))
      val name = s"stream_holt_${runId.incrementAndGet()}"
      val trace = graft.streaming.Streaming.holtTrace(
        stream.as[graft.streaming.Event])
      withStatePartitions(s) {
        val q = trace.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy(col("user_id"), col("event_id"))
    },

    // Per-user token-bucket rate limiter: cap 3, one token per 4 h of
    // event time, two longs of state per user over the time-ordered
    // replay; the admit/refuse trace equals the DuckDB recursive-CTE
    // replay bit for bit.
    "q_stream_rate_limit" -> { (s, dir) =>
      val s2 = s
      import s2.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 5 === 2)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val b = ev.agg(min(col("ts").cast("long")).as("lo"),
        max(col("ts").cast("long")).as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val stream = orderedReplay(s, Seq(
        ev.filter(col("ts").cast("long") <= t1),
        ev.filter(col("ts").cast("long") > t1 &&
          col("ts").cast("long") <= t2),
        ev.filter(col("ts").cast("long") > t2)))
      val name = s"stream_rate_${runId.incrementAndGet()}"
      val admits = graft.streaming.Streaming.tokenBucket(
        stream.as[graft.streaming.Event], cap = 3L, refillSecs = 14400L)
      withStatePartitions(s) {
        val q = admits.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy(col("user_id"), col("event_id"))
    },

    // Streaming mixture intake: per-domain token budgets fill
    // incrementally across three id-ordered micro-batches (one long of
    // state per domain); the admitted set equals the batch greedy
    // prefix the DuckDB oracle recomputes.
    "q_stream_budget_take" -> { (s, dir) =>
      val s2 = s
      import s2.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.ops.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("n_tok"))
      val stream = orderedReplay(s, Seq(
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 2)))
      val name = s"stream_budget_${runId.incrementAndGet()}"
      val taken = graft.streaming.Streaming.budgetTake(
        stream.as[graft.streaming.DocTokens],
        Map("src0" -> 400L, "src1" -> 300L, "src3" -> 250L))
      withStatePartitions(s) {
        val q = taken.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).orderBy(col("source"), col("doc_id"))
    },

    // Live drift monitor: the reference window's histogram is static
    // batch; the comparison window streams in (3 unordered chunks —
    // bin counting is order-free) through a complete-mode
    // groupBy(bin).count whose sink is the continuously-updated count
    // table a production monitor would read.  PSI over the drained
    // counts must equal the all-batch q_drift_psi computation, which
    // the DuckDB oracle recomputes from raw rows.
    "q_stream_drift" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val edges = Seq(1000.0, 2000.0, 4000.0, 8000.0, 16000.0,
        32000.0, 64000.0)
      val early = li.filter(
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val late = li.filter(
        col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      val stream = replay(s, late.select(col("l_extendedprice")), chunks = 3)
      val name = s"stream_drift_${runId.incrementAndGet()}"
      val counts = stream
        .select(graft.ops.Drift.binOf(col("l_extendedprice"), edges).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      withStatePartitions(s) {
        val q = counts.writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      val ha = graft.ops.Drift.histogram(early, "l_extendedprice", edges)
        .withColumnRenamed("n", "n_a")
      val bins = s.range(0, edges.size + 1)
        .select(col("id").cast("int").as("bin"))
      val hb = bins.join(s.table(name), Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n"), lit(0L)).as("n_b"))
      graft.ops.Drift.psiFromHistograms(ha, hb)
    },

    "q_stream_dedup" -> { (s, dir) =>
      // only the dedup key is projected: the state store then holds a
      // key per user and nothing else
      val src = Tables.load(s, dir, "events")
        .select(col("user_id"))
      val stream = replay(s, src, chunks = 2)
      val name = s"stream_dedup_${runId.incrementAndGet()}"
      val deduped = stream.dropDuplicates("user_id")
      withStatePartitions(s) {
        val q = deduped.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name)
        .select(col("user_id"))
        .orderBy(col("user_id"))
    },

    // Streaming re-crawl URL dedup: two syntactic variants of every
    // URL (case/www/port/tracking-param/slash/fragment noise) arrive
    // in different micro-batches; canonicalization runs in the
    // stream's projection and dropDuplicates keys the state store on
    // the canonical string — so state holds one row per PAGE, not per
    // crawl variant, and the survivors equal the batch-distinct
    // canonical set exactly.
    "q_stream_url_dedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 300)
      val v1 = docs.select(concat(lit("https://www.ex"),
        (col("doc_id") % 50).cast("string"), lit(".com/p/"),
        (col("doc_id") % 20).cast("string"), lit("?a=1&b=2")).as("url"))
      val v2 = docs.select(concat(lit("HTTPS://EX"),
        (col("doc_id") % 50).cast("string"), lit(".COM:443/p/"),
        (col("doc_id") % 20).cast("string"),
        lit("/?b=2&utm_source=x&a=1#frag")).as("url"))
      val stream = replay(s, v1.union(v2), chunks = 2)
      val name = s"stream_url_dedup_${runId.incrementAndGet()}"
      val deduped = stream
        .select(graft.ops.UrlOps.canonicalize(col("url")).as("canon"))
        .dropDuplicates("canon")
      withStatePartitions(s) {
        val q = deduped.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name).select(col("canon")).orderBy(col("canon"))
    },

    // Stream-stream inner join: clicks joined to same-user purchases
    // within the following hour, both sides replayed as file streams.
    // No watermark in the GATE variant: the replay interleaves event
    // time across micro-batches, and a watermark would (correctly, per
    // spec) drop late rows — here we prove the buffered-state join
    // converges to the exact batch answer.  The bounded-state
    // production shape (watermarks both sides + time-range condition,
    // state evicted as the watermark passes) is exercised in
    // `StreamingSpec`("stream-stream interval join").
    "q_stream_join" -> { (s, dir) =>
      // a user subset keeps unwatermarked join state (and micro-batch
      // count × state-store overhead) proportionate for a gate entry
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 3 === 0)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      // clicks split across 2 micro-batches, purchases land in the
      // first: batch-2 clicks must join purchase rows buffered in the
      // join state from batch 1 — the cross-batch property under test.
      val clicks = replay(s, ev.filter(col("event_type") === "click"), chunks = 2)
        .select(col("user_id"), col("ts").as("c_ts"))
      val purchases = replay(s, ev.filter(col("event_type") === "purchase"), chunks = 1)
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      val name = s"stream_join_${runId.incrementAndGet()}"
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      withStatePartitions(s) {
        val q = joined.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name)
        .select(col("user_id"),
          col("c_ts").cast("long").as("click_s"),
          col("p_ts").cast("long").as("purchase_s"))
        .orderBy(col("user_id"), col("click_s"), col("purchase_s"))
    },

    // flatMapGroupsWithState gate (§2.11 arbitrary state): ordered
    // replay in three micro-batches (early half, late half, per-user
    // flush) drives the sessionizer; the flush events close every real
    // session, so the emitted (user, session_start, n_events) set must
    // equal the batch gap-sessionization oracle exactly.  State crosses
    // the batch-1/batch-2 boundary — sessions spanning the time split
    // only come out right if GroupState carried them over.
    "q_stream_sessionize" -> { (s, dir) =>
      val s2 = s
      import s2.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") % 5 === 0)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val b = ev.agg(min(col("ts").cast("long")).as("lo"),
        max(col("ts").cast("long")).as("hi")).head()
      val mid = (b.getLong(0) + b.getLong(1)) / 2
      val flushTs = new java.sql.Timestamp((b.getLong(1) + 86400L) * 1000L)
      val flush = ev.select(col("user_id")).distinct()
        .select((col("user_id") + lit(1000000000L)).as("event_id"),
          lit(flushTs).as("ts"), col("user_id"),
          lit("flush").as("event_type"), lit(0.0).as("value"))
      val stream = orderedReplay(s, Seq(
        ev.filter(col("ts").cast("long") <= mid),
        ev.filter(col("ts").cast("long") > mid),
        flush))
      val name = s"stream_sessionize_${runId.incrementAndGet()}"
      val sessions = graft.streaming.Streaming.sessionize(
        stream.as[graft.streaming.Event], gapSeconds = 1800,
        watermark = "10 minutes")
      withStatePartitions(s) {
        val q = sessions.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name)
        .select(col("user_id"), col("session_start"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // DSv2 STREAMING source gate: the custom MicroBatchStream counter
    // drains to completion through offset planning / partition reads /
    // commits; the fully-drained aggregate equals the closed-form range
    // oracle, so a skipped or replayed micro-batch breaks the hash.
    "q_dsv2_stream" -> { (s, _) =>
      val name = s"dsv2_stream_${runId.incrementAndGet()}"
      val q = s.readStream.format("graft.sources.CounterStreamV2")
        .option("n", 500).option("rowsPerBatch", 125).option("slices", 4)
        .load()
        .writeStream.format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name).agg(count(lit(1)).as("n"),
        sum(col("id")).as("id_sum"), sum(col("sq")).as("sq_sum"))
    },

    // CONTINUOUS-mode gate (the reference's EpochCoordinator RPC path,
    // `continuous/ContinuousExecution.scala`): rate source → stateless
    // map/filter → memory sink under Trigger.Continuous, drained at a
    // row-count barrier.  Continuous epochs are at-least-once into the
    // sink, so the result is aggregated over DISTINCT values below the
    // barrier — which must equal the closed-form range oracle exactly;
    // a lost epoch breaks the count, a corrupted map breaks the sums.
    "q_stream_continuous" -> { (s, _) =>
      val name = s"cont_gate_${runId.incrementAndGet()}"
      val ckpt = graft.TmpCleanup.tempDir("graft_cont_gate")
      val barrier = 400L
      val q = s.readStream.format("rate")
        .option("rowsPerSecond", 1000).option("numPartitions", 1).load()
        .filter(col("value") % 2 === 0)
        .select(col("value"), (col("value") * 7 + 1).as("mapped"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("1 second"))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 90000
        def have: Long = s.table(name).filter(col("value") < barrier)
          .agg(count_distinct(col("value"))).head().getLong(0)
        while (have < barrier / 2 && System.currentTimeMillis() < deadline) {
          Thread.sleep(250)
        }
        require(q.exception.isEmpty, s"continuous query failed: ${q.exception}")
        require(have == barrier / 2,
          s"continuous stream did not reach the $barrier barrier in 90s")
      } finally q.stop()
      s.table(name).filter(col("value") < barrier)
        .select(col("value"), col("mapped")).distinct()
        .agg(count(lit(1)).as("n"),
          sum(col("value")).as("value_sum"),
          sum(col("mapped")).as("mapped_sum"))
    },

    // Streaming twin of q_wordpiece's E-step: the codegen WordPiece
    // expression runs inside a streaming micro-batch plan (executor-
    // resident vocab hash, no vocab join), and the complete-mode piece
    // counts over a 2-chunk replay must equal the batch aggregation —
    // token counting is order-free, so the replay split cannot matter.
    // Live n-gram-overlap monitoring: the zero-shuffle clipped-match
    // kernel runs INSIDE the micro-batch projection and the 12 corpus
    // sums accumulate in one complete-mode global aggregate — monotone
    // merges, so the final row equals the batch q_ngram_overlap sums
    // however the replay chunks the corpus; ppm ratios are derived
    // from the final table (same oracle as the batch gate).
    "q_stream_ngram_overlap" -> { (s, dir) =>
      import graft.functions.clipped_match_count
      import graft.ops.PipelineOps.wordNgrams
      val stream = replay(s,
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("text")), chunks = 2)
        .select(split(col("text"), " ").as("ref_toks"))
        .withColumn("cand_toks",
          filter(col("ref_toks"), (_, i) => i % 7 =!= 0))
        // gram arrays materialized ONCE per row (the batch
        // ngramOverlap shape) so the clip and the size sums don't
        // re-derive them per aggregate
        .select((1 to 4).flatMap { n =>
          Seq(wordNgrams(col("cand_toks"), n).as(s"__c$n"),
            wordNgrams(col("ref_toks"), n).as(s"__r$n"))
        }: _*)
      val aggs = (1 to 4).flatMap { n =>
        Seq(
          sum(clipped_match_count(col(s"__c$n"), col(s"__r$n")))
            .cast("long").as(s"__m$n"),
          sum(size(col(s"__c$n")).cast("long")).cast("long")
            .as(s"__ct$n"),
          sum(size(col(s"__r$n")).cast("long")).cast("long")
            .as(s"__rt$n"))
      }
      val agg1 = stream.groupBy().agg(aggs.head, aggs.tail: _*)
      val name = s"sngram_${runId.incrementAndGet()}"
      val q = agg1.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
        .select(explode(array((1 to 4).map { n =>
          struct(lit(n).as("n"), col(s"__m$n").as("matched"),
            col(s"__ct$n").as("cand_total"),
            col(s"__rt$n").as("ref_total"))
        }: _*)).as("__p"))
        .select(col("__p.n").as("n"), col("__p.matched").as("matched"),
          col("__p.cand_total").as("cand_total"),
          col("__p.ref_total").as("ref_total"))
        .filter(col("cand_total") + col("ref_total") > 0L)
        .selectExpr("n", "matched", "cand_total", "ref_total",
          "CAST(CASE WHEN cand_total > 0 THEN " +
            "(CAST(matched AS DECIMAL(38,0)) * 1000000) div cand_total " +
            "ELSE -1 END AS BIGINT) AS prec_ppm",
          "CAST(CASE WHEN ref_total > 0 THEN " +
            "(CAST(matched AS DECIMAL(38,0)) * 1000000) div ref_total " +
            "ELSE -1 END AS BIGINT) AS recall_ppm",
          "CAST(CASE WHEN cand_total + ref_total > 0 THEN " +
            "(CAST(matched AS DECIMAL(38,0)) * 2000000) div " +
            "(cand_total + ref_total) ELSE -1 END AS BIGINT) AS f1_ppm")
        .orderBy(col("n"))
    },

    "q_stream_wordpiece" -> { (s, dir) =>
      import graft.functions.wordpiece_encode
      import graft.ops.TextAnalysis
      val docs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 80).select(col("doc_id"), col("text"))
      val stream = replay(s, docs, chunks = 2)
        .select(explode(wordpiece_encode(
          TextAnalysis.tokens(col("text")), VocabQueries.wpVocab))
          .as("piece"))
        .groupBy(col("piece")).agg(count(lit(1)).as("n_uses"))
      val name = s"wp_${runId.incrementAndGet()}"
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name).orderBy(col("piece"))
    },

    // Streaming filter monitoring: the classifier-eval confusion row
    // accumulated live over a 2-chunk document replay — the scoring
    // expression runs inside the micro-batch plan, the is-English label
    // arrives via a stream-static join, and the complete-mode global
    // aggregate equals the batch confusion row however the replay split
    // the corpus (counts are monotone merges).
    "q_stream_classifier_eval" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val stream = replay(s, docs.select(col("doc_id"), col("text")),
        chunks = 2)
      val scored = graft.ops.Classifier
        .linearScore(stream, "doc_id", "text", buckets = 4096)
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("is_en")),
          "doc_id")
        .selectExpr(
          "(least(greatest(score_micro, -1000000), 1000000) + 1000000) div 2" +
            " AS p",
          "is_en")
        .filter(col("is_en").isNotNull)
        .groupBy().agg(
          count(lit(1)).cast("long").as("n"),
          sum(when(col("is_en"), 1L).otherwise(0L)).cast("long").as("n_pos"),
          sum(when(col("is_en") && col("p") >= 500000L, 1L).otherwise(0L))
            .cast("long").as("tp"),
          sum(when(!col("is_en") && col("p") >= 500000L, 1L).otherwise(0L))
            .cast("long").as("fp"),
          sum(when(!col("is_en") && col("p") < 500000L, 1L).otherwise(0L))
            .cast("long").as("tn"),
          sum(when(col("is_en") && col("p") < 500000L, 1L).otherwise(0L))
            .cast("long").as("fn"))
      val name = s"sce_${runId.incrementAndGet()}"
      val q = scored.writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      s.table(name)
    },

    // ListState + MapState gate: a per-user typed-state profile
    // (bounded event log + per-type counters) accumulates across a
    // 2-chunk replay; distinct-type and total counts are monotone, so
    // max() per user equals the batch GROUP BY however the replay
    // split rows — the q_stream_tws parity contract for the rest of
    // the typed-state surface.
    "q_stream_typed_state" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val s2 = s
      import s2.implicits._
      GraftSession.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val ev = Tables.load(s, dir, "events")
          .filter(col("user_id") % 7 === 0 && col("event_type").isNotNull)
          .select(col("user_id"), col("event_type"), col("event_id"))
        val stream = replay(s, ev, chunks = 2).as[(Long, String, Long)]
        val out = stream.groupByKey(_._1)
          .transformWithState(new graft.streaming.TypedProfileProcessor(8),
            TimeMode.None(), OutputMode.Update())
        val name = s"tps_${runId.incrementAndGet()}"
        withStatePartitions(s) {
          val q = out.toDF("user_id", "types", "total")
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(name).groupBy(col("user_id"))
          .agg(max(col("types")).as("n_types"),
            max(col("total")).as("n_events"))
          .orderBy(col("user_id"))
      }
    },

    // transformWithState gate (Spark-4 StatefulProcessor over the
    // RocksDB state store): per-event-type running counts accumulate
    // across 2 replayed micro-batches; with non-negative adds the
    // running total is monotone, so max(total) per key is the final
    // state — which must equal the batch GROUP BY count regardless of
    // how the replay split rows across batches.
    "q_stream_tws" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val s2 = s
      import s2.implicits._
      GraftSession.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val ev = Tables.load(s, dir, "events")
          .select(col("event_type"), lit(1L).as("one"))
        val stream = replay(s, ev, chunks = 2).as[(String, Long)]
        val out = stream.groupByKey(_._1)
          .transformWithState(new graft.streaming.RunningTotalProcessor,
            TimeMode.None(), OutputMode.Update())
        val name = s"tws_${runId.incrementAndGet()}"
        withStatePartitions(s) {
          val q = out.toDF("event_type", "add", "total")
            .writeStream.format("memory").queryName(name)
            .outputMode("update").start()
          try q.processAllAvailable() finally q.stop()
        }
        s.table(name).groupBy(col("event_type"))
          .agg(max(col("total")).as("n_events"))
          .orderBy(col("event_type"))
      }
    },

    // foreachBatch upsert sink: the streaming aggregation runs in
    // UPDATE mode (each batch emits the refreshed CUMULATIVE per-key
    // row from the state store), and foreachBatch applies it to a keyed
    // parquet table with graft.ops.Upsert — the standard "maintain a
    // merge table from a stream" pattern when the sink has no native
    // MERGE.  Because update-mode rows are cumulative, last-writer-wins
    // upsert converges to the batch GROUP BY exactly, independent of
    // how rows split across batches.
    "q_stream_foreachbatch_merge" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value").cast("decimal(12,2)").as("v"))
      val stream = replay(s, ev, chunks = 3)
      val state = graft.TmpCleanup.tempDir("graft_febatch_state")
      val merged = stream.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), max(col("v")).as("vmax"))
      withStatePartitions(s) {
        val q = merged.writeStream
          .outputMode("update")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            // read-modify-write on the small keyed aggregate (never the
            // fact); the swap stands in for a table format's commit
            val cur =
              try s.read.parquet(state)
              catch { case _: Exception => batch.limit(0) }
            graft.ops.Upsert(cur, batch, Seq("user_id"))
              .coalesce(1)
              .write.mode("overwrite").parquet(state + "_next")
            val fs = org.apache.hadoop.fs.FileSystem.get(
              s.sparkContext.hadoopConfiguration)
            val dst = new org.apache.hadoop.fs.Path(state)
            fs.delete(dst, true)
            fs.rename(new org.apache.hadoop.fs.Path(state + "_next"), dst)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(state)
        .select(col("user_id"), col("n"), col("vmax").cast("double").as("vmax"))
        .orderBy(col("user_id"))
    },

    // Streaming SCD2: three ordered mutation batches (version = batchId
    // + 2) fold into a parquet dimension state via foreachBatch +
    // ops.Scd2 — the streaming dimension-maintenance pattern.  The
    // chunk contents are deterministic (key-disjoint change sets per
    // modulus), so the final version history has a CLOSED FORM the
    // DuckDB oracle derives directly: %5 keys change at v2 (SEG_A) and
    // revert at v4; %7 keys change at v3 (SEG_B); %35 keys do all three.
    "q_stream_scd2" -> { (s, dir) =>
      val c = Tables.load(s, dir, "customer")
      val state = graft.TmpCleanup.tempDir("graft_scd2_state")
      c.select(col("c_custkey").as("key"), col("c_mktsegment").as("attr"),
          lit(1L).as("valid_from"), lit(null).cast("long").as("valid_to"))
        .coalesce(1).write.mode("overwrite").parquet(state)
      val ch0 = c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("key"), lit("SEG_A").as("attr"))
      val ch1 = c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("key"), lit("SEG_B").as("attr"))
      val ch2 = c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("key"), col("c_mktsegment").as("attr"))
      val stream = orderedReplay(s, Seq(ch0, ch1, ch2))
      withStatePartitions(s) {
        val q = stream.writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val cur = s.read.parquet(state)
            graft.ops.Scd2.apply(cur, batch, batchId + 2)
              .coalesce(1)
              .write.mode("overwrite").parquet(state + "_next")
            val fs = org.apache.hadoop.fs.FileSystem.get(
              s.sparkContext.hadoopConfiguration)
            val dst = new org.apache.hadoop.fs.Path(state)
            fs.delete(dst, true)
            fs.rename(new org.apache.hadoop.fs.Path(state + "_next"), dst)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(state)
        .groupBy(col("valid_from"), col("valid_to").isNull.as("open"))
        .agg(count(lit(1)).as("n"), sum(col("key")).cast("long").as("key_sum"))
        .orderBy(col("valid_from"), col("open"))
    },

    // Streaming incremental dedup — the crawl-ingestion pattern: each
    // micro-batch is deduped against the ACCUMULATED history (bloom
    // prefilter + exact verify, ops.Dedup.incrementalDedup) and its
    // survivors append to the history.  Batches 2 and 3 carry re-crawl
    // copies of earlier docs under new ids; every copy must be
    // dropped.  The oracle reconstructs the survivor law exactly —
    // keep iff no EARLIER batch carried the same text — so natural
    // exact-dup texts in the corpus (present at sf0.1) are handled,
    // and any false-positive drop or false-negative keep is still a
    // hash mismatch.
    "q_stream_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val state = graft.TmpCleanup.tempDir("graft_incdedup_state")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(state), true)
      val ch0 = docs.filter(col("doc_id") < 200)
      val ch1 = docs.filter(col("doc_id").between(200, 349))
        .unionByName(docs.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 10000))
      val ch2 = docs.filter(col("doc_id") >= 350)
        .unionByName(docs.filter(col("doc_id").between(200, 249))
          .withColumn("doc_id", col("doc_id") + 20000))
      val stream = orderedReplay(s, Seq(ch0, ch1, ch2))
      withStatePartitions(s) {
        val q = stream.writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val hist =
              try s.read.parquet(state)
              catch { case _: Exception => batch.limit(0) }
            graft.ops.Dedup.incrementalDedup(batch, hist, "text", 600L)
              .coalesce(1).write.mode("append").parquet(state)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(state)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy(col("source"))
    },

    // Streaming NEAR-dup dedup against a persisted LSH index: each
    // micro-batch is shingled once, banded with the fused
    // MinHashBuckets expression, candidate-joined against the
    // history's (band, bucket) index, and exact-Jaccard-refined.
    // The survivor law is corpus-INDEPENDENT by construction (not by
    // a measured "highest natural Jaccard" claim): the gate prepends
    // one text-hash discriminator token (`g<hex(xxhash64(text))>`,
    // alphanumeric so normalize() keeps it) to each document, so two
    // docs share their full shingle set iff their raw texts are equal
    // (different texts differ in the discriminator shingle; texts
    // shorter than the shingle width hash whole and still differ) —
    // and the refine threshold is 1.0, which only J==1.0 (equal sets)
    // clears.  Equal sets also mean identical minhash signatures,
    // hence the SAME bucket in every band: an exact dup is ALWAYS a
    // candidate, deterministically, so drop set == earlier-batch
    // exact-text dups with no LSH-recall or natural-near-dup caveat.
    // History never re-shingles: only its index rows and shingle sets
    // persist between batches.  The op pins its duplicate-id set
    // BEFORE the caller appends to the index dirs, so the appends
    // cannot leak into a lazy re-read.
    "q_stream_neardup" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("dd_text",
          concat_ws(" ",
            concat(lit("g"), lower(hex(xxhash64(col("text"))))),
            col("text")))
      val outDir = graft.TmpCleanup.tempDir("graft_neardup_out")
      val idxDir = graft.TmpCleanup.tempDir("graft_neardup_idx")
      val setsDir = graft.TmpCleanup.tempDir("graft_neardup_sets")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      Seq(outDir, idxDir, setsDir).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(d), true))
      val ch0 = docs.filter(col("doc_id") < 200)
      val ch1 = docs.filter(col("doc_id").between(200, 349))
        .unionByName(docs.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 10000))
      val ch2 = docs.filter(col("doc_id") >= 350)
        .unionByName(docs.filter(col("doc_id").between(200, 249))
          .withColumn("doc_id", col("doc_id") + 20000))
      val stream = orderedReplay(s, Seq(ch0, ch1, ch2))
      withStatePartitions(s) {
        val q = stream.writeStream
          .outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val (hIdx, hSets) =
              try (s.read.parquet(idxDir), s.read.parquet(setsDir))
              catch { case _: Exception =>
                val e = graft.ops.Dedup.shingleSets(
                  batch.limit(0), "doc_id", "dd_text")
                (e.select(col("id"), lit(0).cast("int").as("band"),
                  lit(0L).as("bucket")), e)
              }
            val (surv, kIdx, kSets) = graft.ops.Dedup.nearDupAgainstIndex(
              batch, "doc_id", "dd_text", hIdx, hSets, threshold = 1.0)
            surv.coalesce(1).write.mode("append").parquet(outDir)
            kIdx.coalesce(1).write.mode("append").parquet(idxDir)
            kSets.coalesce(1).write.mode("append").parquet(setsDir)
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(outDir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy(col("source"))
    },

    // Stream-static join: the streaming fact micro-batches join to a
    // STATIC dimension re-read per batch — stateless (no join state
    // store), the streaming mirror of the broadcast-dim star.  The
    // static side is a small aggregate of customer, so at scale each
    // micro-batch plans a broadcast hash join; the memory-sink total
    // equals the batch join oracle.
    "q_stream_static_join" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("value").cast("decimal(12,2)").as("v"))
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val stream = replay(s, ev, chunks = 2)
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      val name = s"stream_static_${runId.incrementAndGet()}"
      withStatePartitions(s) {
        val q = stream.writeStream.format("memory").queryName(name)
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(name)
        .select(col("c_mktsegment"), col("n"),
          col("total").cast("double").as("total"))
        .orderBy(col("c_mktsegment"))
    })

  val oracle: Map[String, String] = Map(
    // the streamed EWMA trace must equal the batch recursion; the
    // op's >> 3 FLOORS, DuckDB's integer // TRUNCATES — negatives
    // replay via the sign-split floored form
    "q_stream_ewma" ->
      """WITH RECURSIVE t AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id % 7 = 3),
        |r(user_id, event_id, c, rn, ew) AS (
        |  SELECT user_id, event_id, c, rn, c FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.user_id, t.event_id, t.c, t.rn,
        |    CASE WHEN 7 * r.ew + t.c < 0
        |      THEN -((-(7 * r.ew + t.c) + 7) // 8)
        |      ELSE (7 * r.ew + t.c) // 8 END
        |  FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, event_id, c AS cents, ew AS ewma FROM r
        |ORDER BY user_id, event_id""".stripMargin,

    // the streamed Holt trace must equal the batch recursion; the
    // op's >> 3 FLOORS, while DuckDB's integer // TRUNCATES toward
    // zero — replay negatives with the sign-split floored form
    // -((-x + 7) // 8)
    "q_stream_holt" ->
      """WITH RECURSIVE t AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id % 11 = 4),
        |r(user_id, event_id, c, rn, l, b) AS (
        |  SELECT user_id, event_id, c, rn, c, CAST(0 AS BIGINT)
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT user_id, event_id, c, rn, nl,
        |    CASE WHEN 7 * pb + (nl - pl) < 0
        |      THEN -((-(7 * pb + (nl - pl)) + 7) // 8)
        |      ELSE (7 * pb + (nl - pl)) // 8 END
        |  FROM (SELECT t.user_id, t.event_id, t.c, t.rn,
        |      r.l AS pl, r.b AS pb,
        |      CASE WHEN t.c + 7 * (r.l + r.b) < 0
        |        THEN -((-(t.c + 7 * (r.l + r.b)) + 7) // 8)
        |        ELSE (t.c + 7 * (r.l + r.b)) // 8 END AS nl
        |    FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1))
        |SELECT user_id, event_id, c AS cents, l AS level, b AS trend,
        |  l + b AS forecast1
        |FROM r ORDER BY user_id, event_id""".stripMargin,

    // the streamed admission trace must equal the batch recursion:
    // full bucket at first sight, one token per 14400 s of event
    // time, `last` advances only by consumed whole periods
    "q_stream_rate_limit" ->
      """WITH RECURSIVE t AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id % 5 = 2),
        |r(user_id, event_id, rn, admitted, tok, last) AS (
        |  SELECT user_id, event_id, rn, TRUE, CAST(2 AS BIGINT), sec
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.user_id, t.event_id, t.rn,
        |    least(CAST(3 AS BIGINT),
        |      r.tok + greatest(0, t.sec - r.last) // 14400) >= 1,
        |    least(CAST(3 AS BIGINT),
        |      r.tok + greatest(0, t.sec - r.last) // 14400)
        |      - CASE WHEN least(CAST(3 AS BIGINT),
        |          r.tok + greatest(0, t.sec - r.last) // 14400) >= 1
        |        THEN 1 ELSE 0 END,
        |    r.last + (greatest(0, t.sec - r.last) // 14400) * 14400
        |  FROM t JOIN r ON t.user_id = r.user_id AND t.rn = r.rn + 1)
        |SELECT user_id, event_id, admitted, tok AS tokens_after
        |FROM r ORDER BY user_id, event_id""".stripMargin,

    // the drained complete-mode count table must reproduce the
    // all-batch PSI — same oracle arithmetic as q_drift_psi
    "q_stream_drift" ->
      """WITH bins AS (SELECT CAST(unnest(generate_series(0, 7)) AS INT) AS bin),
        |a AS (SELECT CASE WHEN l_extendedprice < 1000 THEN 0
        |                  WHEN l_extendedprice < 2000 THEN 1
        |                  WHEN l_extendedprice < 4000 THEN 2
        |                  WHEN l_extendedprice < 8000 THEN 3
        |                  WHEN l_extendedprice < 16000 THEN 4
        |                  WHEN l_extendedprice < 32000 THEN 5
        |                  WHEN l_extendedprice < 64000 THEN 6
        |                  ELSE 7 END AS bin
        |      FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01 00:00:00'),
        |b AS (SELECT CASE WHEN l_extendedprice < 1000 THEN 0
        |                  WHEN l_extendedprice < 2000 THEN 1
        |                  WHEN l_extendedprice < 4000 THEN 2
        |                  WHEN l_extendedprice < 8000 THEN 3
        |                  WHEN l_extendedprice < 16000 THEN 4
        |                  WHEN l_extendedprice < 32000 THEN 5
        |                  WHEN l_extendedprice < 64000 THEN 6
        |                  ELSE 7 END AS bin
        |      FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'),
        |ca AS (SELECT bin, count(*) AS n FROM a GROUP BY bin),
        |cb AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
        |ta AS (SELECT count(*) AS t FROM a),
        |tb AS (SELECT count(*) AS t FROM b)
        |SELECT bins.bin,
        |  COALESCE(ca.n, 0) AS n_a, COALESCE(cb.n, 0) AS n_b,
        |  round((greatest(COALESCE(ca.n, 0) * 1.0 / ta.t, 1e-6)
        |         - greatest(COALESCE(cb.n, 0) * 1.0 / tb.t, 1e-6))
        |    * ln(greatest(COALESCE(ca.n, 0) * 1.0 / ta.t, 1e-6)
        |         / greatest(COALESCE(cb.n, 0) * 1.0 / tb.t, 1e-6)), 6) AS psi_contrib
        |FROM bins
        |LEFT JOIN ca ON bins.bin = ca.bin
        |LEFT JOIN cb ON bins.bin = cb.bin, ta, tb
        |ORDER BY bins.bin""".stripMargin,

    // closed-form version history of the three deterministic batches
    "q_stream_scd2" ->
      """WITH c AS (
        |  SELECT c_custkey AS key, c_mktsegment AS seg,
        |    c_custkey % 5 = 0 AS m5, c_custkey % 7 = 0 AS m7
        |  FROM customer),
        |hist AS (
        |  SELECT key, seg AS attr, CAST(1 AS BIGINT) AS vf,
        |    CAST(CASE WHEN m5 THEN 2 WHEN m7 THEN 3 END AS BIGINT) AS vt FROM c
        |  UNION ALL
        |  SELECT key, 'SEG_A', CAST(2 AS BIGINT),
        |    CAST(CASE WHEN m7 THEN 3 ELSE 4 END AS BIGINT) FROM c WHERE m5
        |  UNION ALL
        |  SELECT key, 'SEG_B', CAST(3 AS BIGINT),
        |    CAST(CASE WHEN m5 THEN 4 END AS BIGINT) FROM c WHERE m7
        |  UNION ALL
        |  SELECT key, seg, CAST(4 AS BIGINT), CAST(NULL AS BIGINT) FROM c WHERE m5)
        |SELECT vf AS valid_from, vt IS NULL AS open, count(*) AS n,
        |  CAST(sum(key) AS BIGINT) AS key_sum
        |FROM hist GROUP BY vf, vt IS NULL
        |ORDER BY valid_from, open""".stripMargin,

    // Survivor semantics, corpus-INDEPENDENT: a doc survives iff no
    // EARLIER batch carried the same text (incrementalDedup removes
    // batch-vs-history dups only; same-batch equal texts both
    // survive).  The injected re-crawl clones always have an
    // earlier-batch original, and NATURAL exact-dup texts in the
    // corpus (8 pairs at sf0.1, 0 at sf0.01 — found by the round-11
    // sf0.1 sweep) drop exactly when they straddle batches.  The
    // batch-of-origin is a pure function of doc_id (the gate's chunk
    // ranges), so the oracle reconstructs it.
    "q_stream_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    CASE WHEN doc_id < 200 THEN 0 WHEN doc_id <= 349 THEN 1
        |         ELSE 2 END AS b
        |  FROM documents),
        |m AS (SELECT text, min(b) AS mb FROM d GROUP BY text)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM d JOIN m USING (text) WHERE d.b = m.mb
        |GROUP BY source ORDER BY source""".stripMargin,

    // Same survivor law as q_stream_incremental_dedup, and corpus-
    // independent BY CONSTRUCTION: the gate's per-doc discriminator
    // token makes J==1.0 equivalent to raw-text equality, the refine
    // threshold is 1.0, and equal shingle sets imply identical
    // minhash signatures (always LSH candidates) — so the drop set is
    // exactly the earlier-batch exact-text dups on ANY corpus.
    "q_stream_neardup" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    CASE WHEN doc_id < 200 THEN 0 WHEN doc_id <= 349 THEN 1
        |         ELSE 2 END AS b
        |  FROM documents),
        |m AS (SELECT text, min(b) AS mb FROM d GROUP BY text)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM d JOIN m USING (text) WHERE d.b = m.mb
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_stream_foreachbatch_merge" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(max(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS vmax
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_stream_tws" ->
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_typed_state" ->
      """SELECT user_id,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events
        |WHERE user_id % 7 = 0 AND event_type IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_stream_classifier_eval" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
        |    '[a-z0-9'']+')) AS tok FROM documents),
        |h AS (
        |  SELECT doc_id, list_reduce(
        |    [CAST(0 AS BIGINT)] || list_transform(
        |      regexp_extract_all(tok, '.'), c -> CAST(ord(c) AS BIGINT)),
        |    (acc, x) -> (acc * 31 + x) % 1000003) AS hh
        |  FROM toks),
        |w AS (
        |  SELECT doc_id,
        |    ((hh % 4096) * 2654435761) % 4294967296 % 2000001 - 1000000 AS wt
        |  FROM h),
        |agg AS (
        |  SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score_micro
        |  FROM w GROUP BY doc_id),
        |p AS (
        |  SELECT (least(greatest(coalesce(a.score_micro, 0), -1000000),
        |            1000000) + 1000000) // 2 AS p,
        |    (d.lang = 'en') AS y
        |  FROM documents d LEFT JOIN agg a USING (doc_id)
        |  WHERE d.lang IS NOT NULL)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN y AND p >= 500000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tp,
        |  CAST(sum(CASE WHEN NOT y AND p >= 500000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN NOT y AND p < 500000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS tn,
        |  CAST(sum(CASE WHEN y AND p < 500000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fn
        |FROM p""".stripMargin,

    // identical oracle to the batch q_ngram_overlap — stream==batch.
    "q_stream_ngram_overlap" ->
      (QualityQueries.bleuPerSql + """
        |SELECT n, matched, cand_total, ref_total,
        |  CAST(CASE WHEN cand_total > 0 THEN
        |    (CAST(matched AS HUGEINT) * 1000000) // cand_total
        |    ELSE -1 END AS BIGINT) AS prec_ppm,
        |  CAST(CASE WHEN ref_total > 0 THEN
        |    (CAST(matched AS HUGEINT) * 1000000) // ref_total
        |    ELSE -1 END AS BIGINT) AS recall_ppm,
        |  CAST(CASE WHEN cand_total + ref_total > 0 THEN
        |    (CAST(matched AS HUGEINT) * 2000000) // (cand_total + ref_total)
        |    ELSE -1 END AS BIGINT) AS f1_ppm
        |FROM per ORDER BY n""".stripMargin),

    "q_stream_wordpiece" -> {
      val values = VocabQueries.wpVocab.map(p => s"('$p')").mkString(", ")
      s"""WITH RECURSIVE base AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9'']+') AS toks
        |  FROM documents WHERE doc_id < 80),
        |words AS (
        |  SELECT doc_id, widx, toks[widx] AS w FROM (
        |    SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS widx
        |    FROM base)),
        |vocab(piece) AS (VALUES $values),
        |seg(doc_id, widx, rest, pieces, step) AS (
        |  SELECT doc_id, widx, w, CAST([] AS VARCHAR[]), 0 FROM words
        |  UNION ALL
        |  SELECT doc_id, widx,
        |    CASE WHEN nxt IS NULL THEN ''
        |         ELSE substr(rest, CASE WHEN step = 0 THEN len(nxt) + 1
        |                                ELSE len(nxt) - 1 END, 100000) END,
        |    CASE WHEN nxt IS NULL THEN ['[UNK]']
        |         ELSE list_append(pieces, nxt) END,
        |    step + 1
        |  FROM (
        |    SELECT doc_id, widx, rest, pieces, step,
        |      (SELECT piece FROM vocab
        |        WHERE CASE WHEN step = 0
        |              THEN NOT starts_with(piece, '##')
        |                AND starts_with(rest, piece)
        |              ELSE starts_with(piece, '##')
        |                AND starts_with(rest, substr(piece, 3, 100000)) END
        |        ORDER BY len(piece) DESC, piece LIMIT 1) AS nxt
        |    FROM seg WHERE len(rest) > 0 AND step < 64)),
        |fin AS (
        |  SELECT doc_id, widx, pieces FROM seg WHERE len(rest) = 0)
        |SELECT piece, CAST(count(*) AS BIGINT) AS n_uses FROM (
        |  SELECT unnest(pieces) AS piece FROM fin)
        |GROUP BY 1 ORDER BY piece""".stripMargin
    },
    "q_stream_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS h,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,
    // arrival order is (doc_id % 3, doc_id) — chunk i carries the
    // %3 == i ids in id order — and the greedy prefix is over THAT
    // order, which the oracle mirrors exactly.
    "q_stream_budget_take" ->
      s"""WITH t AS (SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+'))
        |      AS BIGINT) AS n_tok
        |  FROM documents WHERE source IN ('src0', 'src1', 'src3')),
        |b AS (SELECT *,
        |    CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 300
        |         ELSE 250 END AS budget,
        |    coalesce(sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY doc_id % 3, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS before
        |  FROM t)
        |SELECT doc_id, source, n_tok,
        |  CAST(before + n_tok AS BIGINT) AS cum_tokens
        |FROM b WHERE before < budget
        |ORDER BY source, doc_id""".stripMargin,

    "q_stream_anomaly" ->
      """WITH t AS (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE user_id % 5 = 1),
        |w AS (SELECT user_id, event_id, c,
        |    sum(c) OVER win AS s1, sum(c * c) OVER win AS s2,
        |    count(*) OVER win AS m
        |  FROM t WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, c AS cents,
        |  CAST((c * 20 - s1) * (c * 20 - s1) AS BIGINT) AS dev_sq,
        |  CAST(9 * (s2 * 20 - s1 * s1) AS BIGINT) AS bound
        |FROM w WHERE m = 20
        |  AND (c * 20 - s1) * (c * 20 - s1) > 9 * (s2 * 20 - s1 * s1)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id FROM events ORDER BY user_id""".stripMargin,
    "q_stream_url_dedup" ->
      """SELECT DISTINCT 'https://ex' || (doc_id % 50) || '.com/p/' ||
        |  (doc_id % 20) || '?a=1&b=2' AS canon
        |FROM documents WHERE doc_id < 300 ORDER BY canon""".stripMargin,
    "q_stream_join" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events WHERE user_id % 3 = 0)
        |SELECT c.user_id,
        |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s,
        |  CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_s
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_s, purchase_s""".stripMargin,
    "q_dsv2_stream" ->
      """SELECT count(*) AS n, CAST(sum(r.range) AS BIGINT) AS id_sum,
        |  CAST(sum(r.range * r.range) AS BIGINT) AS sq_sum
        |FROM range(0, 500) r""".stripMargin,
    "q_stream_continuous" ->
      """SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS value_sum,
        |  CAST(sum(7 * v + 1) AS BIGINT) AS mapped_sum
        |FROM (SELECT r.range AS v FROM range(0, 400) r) t
        |WHERE v % 2 = 0""".stripMargin,
    "q_stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id FROM events WHERE user_id % 5 = 0),
        |marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |         - CAST(floor(epoch(CAST(lag(ts) OVER w AS TIMESTAMP))) AS BIGINT) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id,
        |  CAST(min(floor(epoch(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS session_start,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)
}
