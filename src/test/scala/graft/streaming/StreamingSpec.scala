package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{GraftSession, SparkSpec}
import graft.streaming.Streaming._
import graft.streaming.{Event, SessionOut}

/** Static collector for the continuous-recovery foreach sink: local
  * mode shares one JVM, so the writer (executor thread) and the spec
  * (driver thread) see the same object.
  */
object ContRecCollector {
  private val buckets =
    new java.util.concurrent.ConcurrentHashMap[Int,
      java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  def add(run: Int, v: Long): Unit =
    buckets.computeIfAbsent(run,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]()).add(v)
  def values(run: Int): Seq[Long] = {
    val q = buckets.get(run)
    if (q == null) Seq.empty
    else { val it = q.iterator(); val b = Seq.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
  }
  /** Drop buckets so a retried test starts from a clean collector. */
  def clear(runs: Int*): Unit = runs.foreach(buckets.remove(_))
}

/** Streaming semantics specs (§2.11): drive each operator with a
  * MemoryStream through deterministic micro-batches, asserting window
  * results, dedup, late-data drop past the watermark, session state,
  * and stream-stream join output.
  */
/** transformWithState processor whose ValueState carries a processing-
  * time TTL; emits whether the state EXISTED on arrival so eviction is
  * observable from the output stream.
  */
class TtlCounterProcessor(ttlMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), (String, Long, Boolean)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    total = getHandle.getValueState[Long]("total",
      org.apache.spark.sql.Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofMillis(ttlMs)))

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
      timerValues: TimerValues): Iterator[(String, Long, Boolean)] = {
    val existed = total.exists()
    val prev = if (existed) total.get() else 0L
    val next = prev + rows.map(_._2).sum
    total.update(next)
    Iterator((key, next, existed))
  }
}

/** Exercises the REST of the Spark-4 typed state surface beyond
  * ValueState: a ListState event log (append / get / clear) and a
  * MapState per-type counter, emitting one summary row per key per
  * batch: (key, log_size_after, distinct_types, total_count).  The log
  * clears whenever it exceeds `logCap` — the bounded-session-log
  * pattern.
  */
class LogAndCountsProcessor(logCap: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, String, Long), (String, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
  @transient private var log: ListState[Long] = _
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    log = getHandle.getListState[Long]("log",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    counts = getHandle.getMapState[String, Long]("counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, String, Long)],
      timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
    rows.foreach { case (_, typ, v) =>
      log.appendValue(v)
      val prev = if (counts.containsKey(typ)) counts.getValue(typ) else 0L
      counts.updateValue(typ, prev + 1)
    }
    var n = 0L
    val it = log.get()
    while (it.hasNext) { it.next(); n += 1 }
    if (n > logCap) { log.clear(); n = 0 }
    var types = 0L
    var total = 0L
    val kit = counts.iterator()
    while (kit.hasNext) { types += 1; total += kit.next()._2 }
    Iterator((key, n, types, total))
  }
}

/** Processing-time TIMER coverage: every input row (re)arms a timer
  * `delayMs` ahead and bumps a counter; when the timer fires,
  * handleExpiredTimer emits a (key, -count) flush row and clears the
  * state — the debounced-flush pattern (emit only after a quiet
  * period).
  */
class DebounceFlushProcessor(delayMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), (String, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var n: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState[Long]("n",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
      timerValues: TimerValues): Iterator[(String, Long)] = {
    val add = rows.size.toLong
    val next = (if (n.exists()) n.get() else 0L) + add
    n.update(next)
    getHandle.registerTimer(
      timerValues.getCurrentProcessingTimeInMs() + delayMs)
    Iterator((key, next))
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long)] = {
    val flushed = if (n.exists()) n.get() else 0L
    n.clear()
    Iterator((key, -flushed))
  }
}

/** Initial-state handover: totals bootstrap from a batch Dataset (the
  * migration path from a batch backfill into a streaming continuation)
  * and then accumulate normally.
  */
class InitTotalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
      String, (String, Long), (String, Long), (String, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    total = getHandle.getValueState[Long]("total",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInitialState(key: String, initialState: (String, Long),
      timerValues: TimerValues): Unit =
    total.update(initialState._2)

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
      timerValues: TimerValues): Iterator[(String, Long)] = {
    val next = (if (total.exists()) total.get() else 0L) + rows.map(_._2).sum
    total.update(next)
    Iterator((key, next))
  }
}

class StreamingSpec extends SparkSpec with org.scalatest.Retries {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // Continuous-mode and rate-source tests race wall-clock epochs against
  // a fully-loaded 4-core JVM when the whole battery runs; each test is
  // self-contained (fresh checkpoints, cleared collectors), so one retry
  // distinguishes a genuine semantic break from scheduler starvation.
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    withRetry { super.withFixture(test) }

  /** Min per-partition rate-source value recorded in `ckpt/offsets/epoch`
    * — the END offsets of that epoch (last value emitted; -1 before any
    * rows), written before `commits/epoch`.  A restart resumes at
    * offsets/latestCommit + 1. */
  private def walOffsetValue(ckpt: String, epoch: Long): Option[Long] = {
    val f = new java.io.File(new java.io.File(ckpt, "offsets"), epoch.toString)
    if (!f.exists()) None
    else {
      val txt = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val vs = """"value"\s*:\s*(-?\d+)""".r
        .findAllMatchIn(txt).map(_.group(1).toLong).toSeq
      if (vs.isEmpty) None else Some(vs.min)
    }
  }

  /** Highest epoch id with a commit record in `ckpt/commits`. */
  private def walLatestCommit(ckpt: String): Option[Long] = {
    val d = new java.io.File(ckpt, "commits")
    val es = Option(d.list()).getOrElse(Array.empty[String])
      .filterNot(_.startsWith("."))
      .flatMap(n => scala.util.Try(n.toLong).toOption)
    if (es.isEmpty) None else Some(es.max)
  }

  /** End offset of the latest COMMITTED epoch — the provable resume
    * lower bound for a restart on `ckpt`.  offsets/(E+1) can already
    * exist for a not-yet-committed epoch and must not be consulted:
    * doing so races a late commit of an empty epoch 0 (the flake this
    * helper exists to kill). */
  private def walCommittedOffset(ckpt: String): Option[Long] =
    walLatestCommit(ckpt).flatMap(walOffsetValue(ckpt, _))

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1, typ: String = "click",
      value: Double = 1.0): Event = Event(id, ts(minute), user, typ, value)

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: String = "append"): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    q.processAllAvailable()
    q
  }

  test("watermarked tumbling window aggregates and drops late data") {
    val in = MemoryStream[Event]
    val q = runToMemory(windowedCounts(in.toDS(), "10 minutes", "1 hour"), "win_agg")
    try {
      in.addData(ev(1, 10), ev(2, 20), ev(3, 65))
      q.processAllAvailable()
      // nothing emitted yet: watermark (65-10=55m) is before hour 0's end
      assert(spark.table("win_agg").count() == 0)
      in.addData(ev(4, 130)) // watermark -> 120m: hour-0 and hour-1 close
      q.processAllAvailable()
      val rows = spark.table("win_agg")
        .select("ws", "n").as[(Timestamp, Long)].collect().toMap
      assert(rows(ts(0)) == 2)   // events at minute 10, 20
      assert(rows(ts(60)) == 1)  // event at minute 65
      // a late event far behind the watermark is dropped
      in.addData(ev(5, 15))
      q.processAllAvailable()
      assert(spark.table("win_agg").select("ws", "n")
        .as[(Timestamp, Long)].collect().toMap.apply(ts(0)) == 2)
    } finally q.stop()
  }

  test("multi-watermark union takes the MIN watermark (late-side rows survive)") {
    // Reference WatermarkTracker.scala:31-56: with multiple watermarked
    // inputs the global watermark is the MINIMUM (default policy), so a
    // slow input holds windows open even when a fast input has raced
    // far ahead.
    import org.apache.spark.sql.functions.{col, count, lit, window}
    val fast = MemoryStream[Event]
    val slow = MemoryStream[Event]
    val agg = fast.toDS().toDF().withWatermark("ts", "10 minutes")
      .union(slow.toDS().toDF().withWatermark("ts", "60 minutes"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = runToMemory(agg, "multi_wm")
    try {
      // fast side races to minute 130 (its own wm would be 120);
      // slow side sits at minute 20 (its wm clamps to 0)
      fast.addData(ev(1, 130))
      slow.addData(ev(2, 20))
      q.processAllAvailable()
      // global wm = min(120, 0) = 0: hour-0 must still be OPEN
      assert(spark.table("multi_wm").count() == 0,
        "hour-0 emitted although the slow input's watermark holds it open")
      // a row far behind the FAST side's watermark but fine for the
      // global (min) watermark must be accepted, not dropped
      slow.addData(ev(3, 15))
      q.processAllAvailable()
      // slow side advances to 130 -> its wm = 70; global = min(120,70)=70:
      // hour-0 closes and must contain BOTH slow-side rows (20 and 15)
      slow.addData(ev(4, 130))
      q.processAllAvailable()
      val rows = spark.table("multi_wm")
        .select("ws", "n").as[(Timestamp, Long)].collect().toMap
      assert(rows.get(ts(0)).contains(2L),
        s"hour-0 should hold the two slow-side rows, got $rows")
      // the reported global watermark is the min, not the fast side's
      val wm = Option(q.lastProgress).flatMap(p =>
        Option(p.eventTime.get("watermark"))).getOrElse("")
      assert(wm.contains("01:10:00"), s"expected min-policy watermark 01:10, got $wm")
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered event ids") {
    val in = MemoryStream[Event]
    val q = runToMemory(dedupped(in.toDS()).toDF(), "dedup_out")
    try {
      in.addData(ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      in.addData(ev(1, 1), ev(3, 3)) // id 1 re-delivered
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming rollingAnomalies carries the window across batches") {
    // n=3, z=3: three 1.00s arrive in batch 1; the spike arrives in
    // batch 2 — it flags ONLY if GroupState carried the trailing
    // window over the batch boundary.  A second key stays below n and
    // never scores.
    val in = MemoryStream[Event]
    val q = runToMemory(
      rollingAnomalies(in.toDS(), n = 3, z = 3).toDF(), "anom_out")
    try {
      in.addData(ev(1, 1, value = 1.00), ev(2, 2, value = 1.00),
        ev(3, 3, value = 1.00), ev(10, 1, user = 2, value = 50.0))
      q.processAllAvailable()
      in.addData(ev(4, 4, value = 100.00), ev(5, 5, value = 1.00),
        ev(11, 2, user = 2, value = 50.0))
      q.processAllAvailable()
      val got = spark.table("anom_out")
        .select("user_id", "event_id", "cents")
        .as[(Long, Long, Long)].collect().toSet
      // event 4: window [100,100,100], dev=(3*10000-300)^2, bound=0 -> flag
      // event 5: window [100,100,10000] -> mean 3400; dev=(300-10200)^2
      //   = 98010000; bound 9*(3*100020000-10200^2)=9*195960000 -> no flag
      assert(got == Set((1L, 4L, 10000L)), got)
    } finally q.stop()
  }

  test("streaming rollingAnomalies rounds negative exact half-cents " +
      "HALF_UP, identical to the batch twin") {
    // value = -0.025 → value*100 is EXACTLY -2.5 in doubles: HALF_UP
    // (Spark round, DuckDB round) gives -3 cents, while math.round
    // (floor(x+0.5)) gives -2 — the one input class where the two
    // diverge.  n=2, z=1, window [0,0] flags any nonzero cent, so the
    // flagged row's cents column exposes the rounding directly.
    val rows = Seq(ev(1, 1, value = 0.0), ev(2, 2, value = 0.0),
      ev(3, 3, value = -0.025))
    val in = MemoryStream[Event]
    val q = runToMemory(
      rollingAnomalies(in.toDS(), n = 2, z = 1).toDF(), "anom_half_out")
    try {
      in.addData(rows(0), rows(1))
      q.processAllAvailable()
      in.addData(rows(2)) // the half-cent crosses a batch boundary
      q.processAllAvailable()
      val stream = spark.table("anom_half_out")
        .select("user_id", "event_id", "cents", "dev_sq", "bound")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val batch = graft.ops.TimeSeries.rollingAnomalies(
          rows.toDF(), "user_id", "event_id", "ts", "value", n = 2, z = 1)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(stream === Set((1L, 3L, -3L, 36L, 0L)))
      assert(stream === batch)
    } finally q.stop()
  }

  test("streaming ewmaTrace carries the level across batches and " +
      "floors negative steps like //") {
    val in = MemoryStream[Event]
    val q = runToMemory(ewmaTrace(in.toDS()).toDF(), "ewma_out")
    try {
      // e1 = 80 (seed), e2 = (7*80 + 160) >> 3 = 90
      in.addData(ev(1, 1, value = 0.80), ev(2, 2, value = 1.60))
      q.processAllAvailable()
      // batch 2 continues FROM 90: e3 = (630 + 0) >> 3 = 78;
      // e4 = (546 - 900) >> 3 = floor(-354/8) = -45 — a truncating
      // division would give -44
      in.addData(ev(3, 3, value = 0.0), ev(4, 4, value = -9.00))
      q.processAllAvailable()
      val got = spark.table("ewma_out")
        .select("event_id", "cents", "ewma")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 80L, 80L), (2L, 160L, 90L),
        (3L, 0L, 78L), (4L, -900L, -45L)), got)
    } finally q.stop()
  }

  test("ewmaTrace / holtTrace / tokenBucket traces are invariant to " +
      "micro-batch chunking (3 random splits)") {
    // the core state contract: ANY contiguous batching of the ordered
    // stream yields the identical trace — state carries exactly, no
    // per-batch reseeding, no boundary double-counting.
    val events = (1 to 40).map(i =>
      ev(i.toLong, i, user = i % 3, value = ((i * 37) % 19 - 9) / 1.0))
    def trace(chunks: Seq[Seq[Event]], which: String): Set[Seq[Any]] = {
      val in = MemoryStream[Event]
      val df = which match {
        case "ewma" => ewmaTrace(in.toDS()).toDF()
        case "holt" => holtTrace(in.toDS()).toDF()
        case _ => tokenBucket(in.toDS(), cap = 2L, refillSecs = 150L).toDF()
      }
      val name = s"chunk_inv_${which}_${System.nanoTime()}"
      val q = runToMemory(df, name)
      try {
        chunks.foreach { c => in.addData(c); q.processAllAvailable() }
        spark.table(name).collect().map(_.toSeq).toSet
      } finally q.stop()
    }
    for (which <- Seq("ewma", "holt", "bucket")) {
      val whole = trace(Seq(events), which)
      val rnd = new scala.util.Random(7)
      for (_ <- 1 to 3) {
        val cutN = 1 + rnd.nextInt(3)
        val cuts = Seq.fill(cutN)(1 + rnd.nextInt(39)).distinct.sorted
        val chunks = (Seq(0) ++ cuts ++ Seq(40)).sliding(2).map {
          case Seq(a, b) => events.slice(a, b)
        }.toSeq.filter(_.nonEmpty)
        assert(trace(chunks, which) === whole,
          s"$which diverged for cuts $cuts")
      }
    }
  }

  test("streaming holtTrace tracks level AND trend across batches " +
      "with floored negative steps") {
    val in = MemoryStream[Event]
    val q = runToMemory(holtTrace(in.toDS()).toDF(), "holt_out")
    try {
      // l1=80 b1=0; l2=(160+7*80)>>3=90, b2=(0+10)>>3=1
      in.addData(ev(1, 1, value = 0.80), ev(2, 2, value = 1.60))
      q.processAllAvailable()
      // l3=(160+7*91)>>3=99, b3=(7+9)>>3=2; then a crash to -900:
      // l4=(-900+7*101)>>3=floor(-193/8)=-25, b4=floor((14-124)/8)=-14
      in.addData(ev(3, 3, value = 1.60), ev(4, 4, value = -9.00))
      q.processAllAvailable()
      val got = spark.table("holt_out")
        .select("event_id", "level", "trend", "forecast1")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 80L, 0L, 80L), (2L, 90L, 1L, 91L),
        (3L, 99L, 2L, 101L), (4L, -25L, -14L, -39L)), got)
    } finally q.stop()
  }

  test("streaming tokenBucket refuses on empty, refills whole periods " +
      "only, and keeps fractional progress across batches") {
    val in = MemoryStream[Event]
    val q = runToMemory(
      tokenBucket(in.toDS(), cap = 2L, refillSecs = 120L).toDF(),
      "bucket_out")
    try {
      // cap 2, refill 1/120 s.  min1: full -> admit (1 left); min2:
      // only 60 s elapsed -> no refill, admit (0); min3: +1 token ->
      // admit (0), last jumps to 180 s exactly
      in.addData(ev(1, 1), ev(2, 2), ev(3, 3))
      q.processAllAvailable()
      // min4: 60 s since last=180 -> refuse; min8: 300 s -> 2 periods
      // -> admit with 1 left (the 60 s remainder was NOT lost)
      in.addData(ev(4, 4), ev(5, 8))
      q.processAllAvailable()
      val got = spark.table("bucket_out")
        .select("event_id", "admitted", "tokens_after")
        .as[(Long, Boolean, Long)].collect().toSet
      assert(got == Set((1L, true, 1L), (2L, true, 0L), (3L, true, 0L),
        (4L, false, 0L), (5L, true, 1L)), got)
    } finally q.stop()
  }

  test("budgetTake closes a domain across batches; unbudgeted admits none") {
    val in = MemoryStream[DocTokens]
    val q = runToMemory(
      budgetTake(in.toDS(), Map("d0" -> 5L)).toDF(), "budget_out")
    try {
      in.addData(DocTokens(1, "d0", 3), DocTokens(10, "dX", 2))
      q.processAllAvailable()
      // batch 2: 3 consumed of 5 -> id 2 straddles (cum 6), id 3 refused
      in.addData(DocTokens(2, "d0", 3), DocTokens(3, "d0", 3))
      q.processAllAvailable()
      // batch 3: domain closed, nothing admitted
      in.addData(DocTokens(4, "d0", 1))
      q.processAllAvailable()
      val got = spark.table("budget_out")
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 3L), (2L, 6L)), got)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizes with event-time timeout") {
    val in = MemoryStream[Event]
    val q = runToMemory(sessionize(in.toDS(), gapSeconds = 600, "0 seconds").toDF(),
      "sessions")
    try {
      // user 1: events at minute 0 and 5 (one session), then silence
      in.addData(ev(1, 0, user = 1, value = 2.0), ev(2, 5, user = 1, value = 3.0))
      q.processAllAvailable()
      // advance event time well past the gap via another user
      in.addData(ev(3, 60, user = 2))
      q.processAllAvailable()
      in.addData(ev(4, 90, user = 2)) // push watermark again to fire timeouts
      q.processAllAvailable()
      val out = spark.table("sessions").as[SessionOut].collect()
      val u1 = out.filter(_.user_id == 1)
      assert(u1.length == 1)
      assert(u1.head.n_events == 2)
      assert(u1.head.total_value == 5.0)
      assert(u1.head.session_start == ts(0).getTime / 1000)
    } finally q.stop()
  }

  test("stream-stream interval join matches within the time band") {
    val l = MemoryStream[Event]
    val r = MemoryStream[Event]
    val q = runToMemory(streamStreamJoin(l.toDS(), r.toDS()), "ssj")
    try {
      l.addData(ev(1, 30, user = 7, value = 10.0))
      r.addData(ev(2, 45, user = 7, value = 20.0))  // within 1h -> match
      r.addData(ev(3, 30, user = 8, value = 30.0))  // other user -> no match
      q.processAllAvailable()
      val rows = spark.table("ssj").select("user_id", "l_value", "r_value")
        .as[(Long, Double, Double)].collect().toSet
      assert(rows == Set((7L, 10.0, 20.0)))
    } finally q.stop()
  }

  test("streaming session_window merges gap-bounded events and closes on watermark") {
    import org.apache.spark.sql.functions.{col, count, lit, session_window}
    val in = MemoryStream[Event]
    val agg = in.toDS().toDF().withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("n"))
    val q = runToMemory(agg, "sess_win")
    try {
      // three events inside one 5-minute-gap session, then a fourth
      // after a gap -> two sessions for user 1
      in.addData(ev(1, 1), ev(2, 3), ev(3, 6), ev(4, 20))
      q.processAllAvailable()
      assert(spark.table("sess_win").count() == 0,
        "append-mode sessions must stay open until the watermark passes")
      in.addData(ev(5, 60)) // watermark -> minute 50: both sessions close
      q.processAllAvailable()
      val rows = spark.table("sess_win")
        .select("ss", "n").as[(Timestamp, Long)].collect().toMap
      assert(rows == Map(ts(1) -> 3L, ts(20) -> 1L),
        s"expected sessions [1..11)x3 and [20..25)x1, got $rows")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join null-pads once the watermark closes the band") {
    val l = MemoryStream[Event]
    val r = MemoryStream[Event]
    val q = runToMemory(streamStreamLeftJoin(l.toDS(), r.toDS()), "ssj_outer")
    try {
      l.addData(ev(1, 30, user = 7, value = 10.0))
      l.addData(ev(2, 30, user = 9, value = 30.0)) // never matched
      r.addData(ev(3, 45, user = 7, value = 20.0))
      q.processAllAvailable()
      // the unmatched left row is still in state: a match could arrive
      // until the watermark passes l_ts + 1h band + 10m delay
      val early = spark.table("ssj_outer")
        .select("user_id").as[Long].collect().toSet
      assert(early == Set(7L), s"user 9 must not null-pad early, got $early")
      // race both sides far ahead -> watermark evicts, null-pad emits
      l.addData(ev(4, 300, user = 1))
      r.addData(ev(5, 300, user = 1))
      q.processAllAvailable()
      val rows = spark.table("ssj_outer")
        .select("user_id", "l_value", "r_value")
        .as[(Long, Double, Option[Double])].collect().toSet
      assert(rows.contains((7L, 10.0, Some(20.0))))
      assert(rows.contains((9L, 30.0, None)),
        s"expected null-padded outer row for user 9, got $rows")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join null-pads BOTH sides after eviction") {
    val l = MemoryStream[Event]
    val r = MemoryStream[Event]
    val q = runToMemory(streamStreamFullJoin(l.toDS(), r.toDS()), "ssj_full")
    try {
      l.addData(ev(1, 30, user = 7, value = 10.0))
      l.addData(ev(2, 30, user = 9, value = 30.0))  // left-only
      r.addData(ev(3, 45, user = 7, value = 20.0))
      r.addData(ev(4, 45, user = 11, value = 40.0)) // right-only
      q.processAllAvailable()
      // both unmatched rows are still evictable-state, not yet padded
      val early = spark.table("ssj_full")
        .select("user_id").as[Option[Long]].collect().flatten.toSet
      assert(early == Set(7L), s"no early null-pads expected, got $early")
      l.addData(ev(5, 300, user = 1))
      r.addData(ev(6, 300, user = 1))
      q.processAllAvailable()
      val rows = spark.table("ssj_full")
        .select("user_id", "r_user", "l_value", "r_value")
        .as[(Option[Long], Option[Long], Option[Double], Option[Double])]
        .collect().toSet
      assert(rows.contains((Some(7L), Some(7L), Some(10.0), Some(20.0))))
      assert(rows.contains((Some(9L), None, Some(30.0), None)),
        s"left row must null-pad, got $rows")
      assert(rows.contains((None, Some(11L), None, Some(40.0))),
        s"right row must null-pad, got $rows")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark expires dedup state past the horizon") {
    val in = MemoryStream[Event]
    val q = runToMemory(dedupWithinWatermark(in.toDS()), "dedup_wm")
    try {
      in.addData(ev(1, 10, value = 1.0))
      in.addData(ev(1, 11, value = 2.0)) // same id inside the window: dropped
      q.processAllAvailable()
      assert(spark.table("dedup_wm").count() == 1)
      // advance the watermark beyond id-1's state lifetime (11 + 10m)
      in.addData(ev(2, 60))
      q.processAllAvailable()
      // same id re-delivered AFTER the horizon: state expired -> re-emitted
      in.addData(ev(1, 61, value = 3.0))
      q.processAllAvailable()
      val n1 = spark.table("dedup_wm").filter($"event_id" === 1L).count()
      assert(n1 == 2,
        s"id 1 should emit once per watermark window, got $n1 emissions")
    } finally q.stop()
  }

  test("foreachBatch sink receives every micro-batch exactly once") {
    val in = MemoryStream[Event]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = in.toDS().toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        seen.add((id, batch.count()))
        ()
      }
      .start()
    try {
      in.addData(ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      in.addData(ev(3, 3))
      q.processAllAvailable()
      val batches = seen.toArray(Array.empty[(Long, Long)]).toSeq.sortBy(_._1)
      assert(batches.map(_._2).sum == 3)
      assert(batches.map(_._1) == batches.map(_._1).distinct)
    } finally q.stop()
  }

  test("rate source produces timestamped monotonically-increasing rows") {
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", 500).load()
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table("rate_out").isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
      }
      val rows = spark.table("rate_out")
        .select("value").as[Long].collect()
      assert(rows.nonEmpty, "rate source emitted nothing within 20s")
      assert(rows.distinct.length == rows.length, "rate values must be unique")
      assert(spark.table("rate_out").schema.fieldNames.toSeq ==
        Seq("timestamp", "value"))
    } finally q.stop()
  }

  test("streaming limit caps total appended rows across micro-batches") {
    val in = MemoryStream[Event]
    val limited = in.toDS().toDF().limit(5)
    val q = runToMemory(limited, "lim_out")
    try {
      in.addData((1 to 4).map(i => ev(i.toLong, i)): _*)
      q.processAllAvailable()
      assert(spark.table("lim_out").count() == 4) // under the cap so far
      in.addData((5 to 10).map(i => ev(i.toLong, i)): _*)
      q.processAllAvailable()
      assert(spark.table("lim_out").count() == 5,
        "limit state must cap the total across batches")
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("StreamingGlobalLimit"), s"expected streaming limit exec:\n$plan")
    } finally q.stop()
  }

  test("socket source streams lines from a TCP server") {
    val server = new java.net.ServerSocket(0)
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        Seq("alpha", "beta", "gamma").foreach(out.println)
        out.flush()
        Thread.sleep(15000) // hold the connection open while the query drains
        sock.close()
      } catch { case _: Exception => () }
    })
    writer.setDaemon(true)
    writer.start()
    val q = spark.readStream.format("socket")
      .option("host", "localhost").option("port", server.getLocalPort).load()
      .writeStream.format("memory").queryName("sock_out")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table("sock_out").count() < 3 &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
      }
      val lines = spark.table("sock_out").select("value").as[String].collect().toSet
      assert(lines == Set("alpha", "beta", "gamma"),
        s"socket source should deliver all published lines, got $lines")
    } finally { q.stop(); server.close() }
  }

  test("continuous mode processes a map-only pipeline with epoch progress") {
    // Continuous processing supports map-like plans only (no aggregates):
    // rate source -> projection/filter -> memory sink, 1s epochs.
    // numPartitions=1 is load-bearing: continuous tasks are long-running
    // and would otherwise occupy all local[4] slots, starving the
    // polling job below forever.
    val ckpt = graft.TmpCleanup.tempDir("graft_cont")
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", 200).option("numPartitions", 1).load()
      .filter($"value" % 2 === 0)
      .select($"value", ($"value" * 10).as("scaled"))
      .writeStream.format("memory").queryName("cont_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("1 second"))
      .start()
    try {
      def epochsCommitted: Int = {
        val d = new java.io.File(ckpt, "commits")
        if (d.exists()) d.list().count(!_.startsWith(".")) else 0
      }
      val deadline = System.currentTimeMillis() + 30000
      while ((spark.table("cont_out").isEmpty || epochsCommitted < 2) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
      }
      val rows = spark.table("cont_out")
        .select("value", "scaled").as[(Long, Long)].collect()
      assert(rows.nonEmpty, "continuous query emitted nothing within 30s")
      assert(rows.forall { case (v, s) => v % 2 == 0 && s == v * 10 })
      // lastProgress stays null under Trigger.Continuous (progress is
      // per-epoch, not per-trigger) — epoch commits in the WAL are the
      // ground truth that continuous execution advanced.
      assert(epochsCommitted >= 2, s"only $epochsCommitted epochs committed")
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("continuous mode recovers from its checkpoint after a kill") {
    // failure injection: the first query is stopped WITHOUT a graceful
    // drain (stop() mid-epoch is how a crashed driver looks to the WAL);
    // a new query on the SAME checkpoint must resume from committed
    // epoch offsets — observable as the restarted stream continuing at
    // a value beyond what the first run committed, never replaying from
    // offset 0 and never erroring on the existing WAL.  The sink is
    // foreach (memory refuses recovery by design — not fault-tolerant);
    // each run collects into its own static bucket.
    ContRecCollector.clear(1, 2)
    val ckpt = graft.TmpCleanup.tempDir("graft_cont_rec")
    def launch(run: Int) = spark.readStream.format("rate")
      .option("rowsPerSecond", 500).option("numPartitions", 1).load()
      .select($"value")
      .writeStream
      .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        override def open(partitionId: Long, epochId: Long): Boolean = true
        override def process(r: org.apache.spark.sql.Row): Unit =
          ContRecCollector.add(run, r.getLong(0))
        override def close(errorOrNull: Throwable): Unit = ()
      })
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("1 second"))
      .start()
    val q1 = launch(1)
    try {
      // kill only once a COMMITTED epoch provably ends past value 0 —
      // commit counts alone race a late commit of an empty epoch 0
      // (end offset -1), after which a replay from value 0 is legal
      val deadline = System.currentTimeMillis() + 60000
      while (!walCommittedOffset(ckpt).exists(_ > 0) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
      }
      assert(walCommittedOffset(ckpt).exists(_ > 0),
        s"first run never committed a nonzero offset " +
          s"(latest ${walLatestCommit(ckpt)})")
      assert(q1.exception.isEmpty)
    } finally q1.stop()
    val committedBefore = walLatestCommit(ckpt).get
    assert(ContRecCollector.values(1).nonEmpty, "first run delivered nothing")
    val q2 = launch(2)
    try {
      val deadline = System.currentTimeMillis() + 30000
      while ((ContRecCollector.values(2).isEmpty ||
          !walLatestCommit(ckpt).exists(_ > committedBefore)) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(250)
      }
      assert(q2.exception.isEmpty,
        s"restart from existing WAL failed: ${q2.exception}")
      assert(walLatestCommit(ckpt).exists(_ > committedBefore),
        "restarted query never committed a new epoch")
      val run2 = ContRecCollector.values(2)
      assert(run2.nonEmpty && run2.min > 0,
        s"restart must resume from committed offsets, not value 0 " +
          s"(got min ${run2.min})")
    } finally q2.stop()
  }

  test("continuous mode: mid-epoch kill replays ONLY the uncommitted tail") {
    // Failure injection INSIDE an epoch: with 5s epochs, wait for the
    // first commit, let the next epoch run ~1.5s (rate=500/s ⇒ ~750
    // uncommitted deliveries), then stop without drain.  The epoch
    // contract under restart:
    //  - committed-prefix exactly-once: values below the resume point
    //    (min of run 2 = last committed offset) were delivered exactly
    //    once, by run 1, and are NEVER re-delivered;
    //  - at-least-once on the in-flight epoch: run 1's deliveries past
    //    the commit boundary are re-delivered by run 2 (resume ≤ them);
    //  - no loss: run1 ∪ run2 covers [0 .. max(run1)] contiguously.
    ContRecCollector.clear(101, 102)
    val ckpt = graft.TmpCleanup.tempDir("graft_cont_epoch")
    def launch(run: Int) = spark.readStream.format("rate")
      .option("rowsPerSecond", 500).option("numPartitions", 1).load()
      .select($"value")
      .writeStream
      .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        override def open(partitionId: Long, epochId: Long): Boolean = true
        override def process(r: org.apache.spark.sql.Row): Unit =
          ContRecCollector.add(100 + run, r.getLong(0))
        override def close(errorOrNull: Throwable): Unit = ()
      })
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("5 seconds"))
      .start()
    // Epoch boundaries are time-based, so commits can land with end
    // offset -1 before any rows flow — and a LATE-ARRIVING commit of
    // such an epoch can postdate the first deliveries, which made a
    // commit-count guard flaky.  Ground truth instead: parse the
    // committed end offset out of the checkpoint WAL
    // (walCommittedOffset) and only kill once it is provably > 0, so
    // the restart cannot legally replay value 0.
    val q1 = launch(1)
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (!walCommittedOffset(ckpt).exists(_ > 0) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
      }
      assert(walCommittedOffset(ckpt).exists(_ > 0),
        s"no epoch with a nonzero offset committed within 60s " +
          s"(latest commit ${walLatestCommit(ckpt)}, " +
          s"offset ${walCommittedOffset(ckpt)})")
      assert(ContRecCollector.values(101).nonEmpty,
        "offset committed but run 1 delivered nothing")
      Thread.sleep(1500) // run well into the NEXT (uncommitted) epoch
      assert(q1.exception.isEmpty)
    } finally q1.stop() // kill mid-epoch, no drain
    val run1 = ContRecCollector.values(101)
    assert(run1.nonEmpty, "run 1 delivered nothing")
    val q2 = launch(2)
    try {
      val deadline = System.currentTimeMillis() + 40000
      while (ContRecCollector.values(102).isEmpty &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
      }
      assert(q2.exception.isEmpty, s"restart failed: ${q2.exception}")
    } finally q2.stop()
    val run2 = ContRecCollector.values(102)
    assert(run2.nonEmpty, "run 2 delivered nothing")
    val resume = run2.min
    // exactly-once below the commit boundary: run 1 delivered each
    // committed value once, and the restart never replays them
    assert(resume > 0, "restart replayed from offset 0 — committed " +
      "epochs must not be reprocessed")
    val committedCounts = run1.filter(_ < resume)
      .groupBy(identity).map(_._2.size)
    assert(committedCounts.forall(_ == 1),
      "a committed-epoch value was delivered more than once")
    // the kill landed mid-epoch: run 1 must have delivered uncommitted
    // rows past the boundary, which run 2 then re-delivers
    assert(run1.max >= resume,
      s"kill was not mid-epoch (run1 max ${run1.max} < resume $resume)")
    // no loss: every value up to run 1's high-water mark was delivered
    val union = run1.toSet ++ run2.toSet
    val missing = (0L to run1.max).filterNot(union)
    assert(missing.isEmpty, s"values lost across the restart: " +
      s"${missing.take(10)}")
  }

  test("foreachBatch exactly-once: a torn micro-batch commit re-delivers " +
      "exactly the last batchId; marker-skip and idempotent re-apply " +
      "both converge") {
    // The WAL writes offsets/N before the user function runs and
    // commits/N only after it returns, so deleting the newest commit
    // file reproduces a driver crash in the at-least-once window.
    // Collector tags: 211+run = batchIds DELIVERED to the wrapper,
    // 221+run = batchIds whose body actually APPLIED.
    ContRecCollector.clear(211, 212, 213, 214, 221, 222, 223, 224)
    val in = graft.TmpCleanup.tempDir("graft_feb_in")
    val out = graft.TmpCleanup.tempDir("graft_feb_out")
    val markers = graft.TmpCleanup.tempDir("graft_feb_mark")
    val ckpt = graft.TmpCleanup.tempDir("graft_feb_ckpt")
    def addFile(name: String, lines: Seq[Long]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(run: Int): Unit = {
      val applyBody = graft.streaming.Streaming.exactlyOnceBatch(markers) {
        (batch, id) =>
          ContRecCollector.add(220 + run, id)
          batch.write.mode("overwrite").parquet(s"$out/b$id")
      }
      val q = spark.readStream.format("text").load(in)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          ContRecCollector.add(210 + run, id)
          applyBody(batch, id)
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000), "query did not drain in 60s")
    }
    addFile("f0.txt", 1L to 5L)
    runOnce(1) // batch 0
    addFile("f1.txt", 6L to 10L)
    runOnce(2) // batch 1
    assert(ContRecCollector.values(211) == Seq(0L))
    assert(ContRecCollector.values(212) == Seq(1L))
    assert(ContRecCollector.values(222) == Seq(1L))
    def tearNewestCommit(): Unit = {
      val commits = java.nio.file.Paths.get(ckpt, "commits")
      val it = java.nio.file.Files.list(commits).iterator()
      val names = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
      while (it.hasNext) names += it.next()
      val newest = names.filter(!_.getFileName.toString.startsWith("."))
        .maxBy(_.getFileName.toString.toLong)
      java.nio.file.Files.delete(newest)
      // the local ChecksumFs keeps a .N.crc sidecar; leaving it behind
      // blocks the restart's atomic re-commit rename
      java.nio.file.Files.deleteIfExists(
        newest.resolveSibling("." + newest.getFileName.toString + ".crc"))
    }
    // Leg 1 — commit torn, effect landed: restart re-delivers EXACTLY
    // batch 1; its marker exists, so the body must be skipped and the
    // sink stays converged.
    tearNewestCommit()
    runOnce(3)
    assert(ContRecCollector.values(213) == Seq(1L),
      s"restart must re-deliver exactly the torn batch, got " +
        s"${ContRecCollector.values(213)}")
    assert(ContRecCollector.values(223).isEmpty,
      "marker present: the side effect must not re-apply")
    // Leg 2 — BOTH commit and marker torn (crash between effect and
    // marker): the body re-applies, and the per-batch overwrite makes
    // re-application idempotent.
    tearNewestCommit()
    java.nio.file.Files.list(java.nio.file.Paths.get(markers)).iterator()
      .forEachRemaining { p =>
        if (p.getFileName.toString.endsWith("1")) java.nio.file.Files.delete(p)
      }
    runOnce(4)
    assert(ContRecCollector.values(214) == Seq(1L))
    assert(ContRecCollector.values(224) == Seq(1L),
      "marker absent: the side effect must re-apply")
    val merged = spark.read.parquet(s"$out/b0", s"$out/b1")
    assert(merged.count() == 10L, "re-delivery must not duplicate rows")
    val got = merged.collect().map(_.getString(0).toLong).sorted.toSeq
    assert(got == (1L to 10L), s"sink diverged: $got")
  }

  test("continuous mode: a torn commit replays exactly the torn epoch") {
    // Complement of the mid-epoch-kill test: here the failure is
    // injected at the COMMIT boundary — the newest commit file is
    // deleted after the query stops, simulating a driver crash while
    // the commit record was being written.  The WAL writes offsets/E+1
    // (the end-of-epoch offsets) BEFORE commits/E, so a torn write
    // leaves the offsets entry present and the commit absent; the
    // restart must treat epoch E as uncommitted and replay exactly it:
    //  - resume point == start offset of the torn epoch (offsets/E);
    //  - nothing below it (epochs with a PRESENT commit) re-delivered;
    //  - no loss across the injected tear.
    ContRecCollector.clear(103, 104)
    val ckpt = graft.TmpCleanup.tempDir("graft_cont_torn")
    def launch(run: Int) = spark.readStream.format("rate")
      .option("rowsPerSecond", 500).option("numPartitions", 1).load()
      .select($"value")
      .writeStream
      .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        override def open(partitionId: Long, epochId: Long): Boolean = true
        override def process(r: org.apache.spark.sql.Row): Unit =
          ContRecCollector.add(102 + run, r.getLong(0))
        override def close(errorOrNull: Throwable): Unit = ()
      })
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Continuous("2 seconds"))
      .start()
    def offsetValue(epoch: Long): Option[Long] = walOffsetValue(ckpt, epoch)
    def latestCommit: Option[Long] = walLatestCommit(ckpt)
    val q1 = launch(1)
    try {
      // need the torn epoch to have a committed PREDECESSOR whose end
      // offsets are past value 0, so (a) a committed epoch survives the
      // deletion and (b) the exact-resume assertion is non-trivial.
      // offsets/E = end offsets of epoch E (see the mid-epoch test);
      // offset values are monotone in epoch, so once some commit e has
      // offsets/(e-1) > 0, every later latestCommit does too.
      val deadline = System.currentTimeMillis() + 60000
      while (!latestCommit.exists(e =>
          e >= 1 && offsetValue(e - 1).exists(_ > 0)) &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
      }
      assert(latestCommit.exists(e => e >= 1 && offsetValue(e - 1).exists(_ > 0)),
        s"never reached two commits with nonzero predecessor offsets " +
          s"(latest $latestCommit)")
      assert(q1.exception.isEmpty)
    } finally q1.stop()
    val run1 = ContRecCollector.values(103)
    assert(run1.nonEmpty, "run 1 delivered nothing")
    // tear the newest commit (re-read AFTER stop — more epochs may have
    // committed between the guard and the stop); the restart must fall
    // back to the previous commit, whose end offsets put the first
    // replayed value at offsets/(tornEpoch-1) + 1 — the torn epoch's
    // first row
    val tornEpoch = latestCommit.get
    val expectedResume = offsetValue(tornEpoch - 1).get + 1
    val tornFile = new java.io.File(new java.io.File(ckpt, "commits"),
      tornEpoch.toString)
    assert(tornFile.delete(), s"could not delete commit $tornEpoch")
    assert(latestCommit.contains(tornEpoch - 1))
    val q2 = launch(2)
    try {
      val deadline = System.currentTimeMillis() + 40000
      while (ContRecCollector.values(104).isEmpty &&
          System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
      }
      assert(q2.exception.isEmpty,
        s"restart over the torn commit failed: ${q2.exception}")
    } finally q2.stop()
    val run2 = ContRecCollector.values(104)
    assert(run2.nonEmpty, "run 2 delivered nothing after the torn commit")
    // replay starts exactly at the torn epoch, not before and not after
    assert(run2.min == expectedResume,
      s"expected replay from the torn epoch's start $expectedResume, " +
        s"run 2 began at ${run2.min}")
    // committed-prefix exactly-once across the tear: run 1 delivered
    // each pre-tear value once and run 2 never re-delivers them
    val committedOnce = run1.filter(_ < expectedResume)
      .groupBy(identity).map(_._2.size)
    assert(committedOnce.forall(_ == 1),
      "a value below the torn epoch was delivered more than once by run 1")
    // run 1 HAD processed (and committed) the torn epoch — so the torn
    // epoch's rows really are re-delivered, proving the commit file is
    // what gates re-delivery
    assert(run1.max >= expectedResume,
      s"run 1 never entered the torn epoch (max ${run1.max})")
    val union = run1.toSet ++ run2.toSet
    val missing = (0L to run1.max).filterNot(union)
    assert(missing.isEmpty,
      s"values lost across the torn commit: ${missing.take(10)}")
  }

  test("transformWithState ListState + MapState: append/clear log and " +
      "per-type counters across batches") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    GraftSession.withConf(spark, providerKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val in = MemoryStream[(String, String, Long)]
      val out = in.toDS().groupByKey(_._1)
        .transformWithState(new LogAndCountsProcessor(logCap = 3),
          TimeMode.None(), OutputMode.Update())
      val name = "lst_map_state"
      val q = out.toDF("k", "log_n", "types", "total")
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        in.addData(("u", "view", 10L), ("u", "click", 11L))
        q.processAllAvailable()
        in.addData(("u", "view", 12L))
        q.processAllAvailable()
        // 4th append exceeds cap 3 → log clears, counters keep going
        in.addData(("u", "buy", 13L), ("u", "view", 14L))
        q.processAllAvailable()
        val rows = spark.table(name).orderBy("total")
          .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSeq
        assert(rows == Seq((2L, 2L, 2L), (3L, 2L, 3L), (0L, 3L, 5L)),
          s"log sizes, distinct types, totals: $rows")
      } finally q.stop()
    }
  }

  test("transformWithState with initialState: bootstrapped totals " +
      "continue from the handed-over values") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    GraftSession.withConf(spark, providerKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val init = Seq(("a", 100L), ("b", 7L)).toDS().groupByKey(_._1)
      val in = MemoryStream[(String, Long)]
      val out = in.toDS().groupByKey(_._1)
        .transformWithState(new InitTotalProcessor,
          TimeMode.None(), OutputMode.Update(), init)
      val name = "init_state_tws"
      val q = out.toDF("k", "total")
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        in.addData(("a", 1L), ("b", 2L), ("c", 3L))
        q.processAllAvailable()
        val rows = spark.table(name).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        // a/b continue from the migrated totals; c starts fresh —
        // exactly the warm-handover migration path (batch backfill →
        // streaming continuation)
        assert(rows == Map("a" -> 101L, "b" -> 9L, "c" -> 3L),
          s"bootstrapped totals: $rows")
      } finally q.stop()
    }
  }

  test("transformWithState processing-time timers: the debounce flush " +
      "fires after the quiet period with the accumulated count") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    GraftSession.withConf(spark, providerKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val bucket = 203
      ContRecCollector.clear(bucket)
      val in = MemoryStream[(String, Long)]
      val q = in.toDS().groupByKey(_._1)
        .transformWithState(new DebounceFlushProcessor(delayMs = 1000),
          TimeMode.ProcessingTime(), OutputMode.Update())
        .toDF("k", "v")
        .writeStream
        .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
          override def open(p: Long, e: Long): Boolean = true
          override def process(r: org.apache.spark.sql.Row): Unit =
            ContRecCollector.add(bucket, r.getLong(1))
          override def close(t: Throwable): Unit = ()
        })
        .outputMode("update").start()
      def awaitValue(v: Long): Unit = {
        val deadline = System.currentTimeMillis() + 120000
        while (!ContRecCollector.values(bucket).contains(v) &&
            System.currentTimeMillis() < deadline) {
          Thread.sleep(100)
        }
        assert(ContRecCollector.values(bucket).contains(v),
          s"never saw $v in ${ContRecCollector.values(bucket)} " +
            s"(query ex: ${q.exception})")
      }
      try {
        in.addData(("a", 1L), ("a", 2L))
        awaitValue(2L)   // two rows accumulated
        awaitValue(-2L)  // the 1s timer fires and flushes both
        // after the flush the counter restarts from zero
        in.addData(("a", 3L))
        awaitValue(1L)
        awaitValue(-1L)
      } finally q.stop()
    }
  }

  test("transformWithState value-state TTL: expired state reads as " +
      "absent, fresh state survives") {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    GraftSession.withConf(spark, providerKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      // ONE long-running query per case; deliveries observed through a
      // foreach collector.  TimeMode.ProcessingTime keeps the trigger
      // loop running empty batches to advance time (so neither
      // processAllAvailable nor AvailableNow ever quiesces) — instead
      // poll the collector for each delivery, then stop.
      def run(ttlMs: Long, sleepMs: Long,
          bucket: Int): Seq[(Long, Boolean)] = {
        ContRecCollector.clear(bucket)
        val in = MemoryStream[(String, Long)]
        val q = in.toDS().groupByKey(_._1)
          .transformWithState(new TtlCounterProcessor(ttlMs),
            TimeMode.ProcessingTime(), OutputMode.Update())
          .toDF("k", "total", "existed")
          .writeStream
          .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
            override def open(p: Long, e: Long): Boolean = true
            override def process(r: org.apache.spark.sql.Row): Unit =
              ContRecCollector.add(bucket,
                r.getLong(1) * 2 + (if (r.getBoolean(2)) 1 else 0))
            override def close(t: Throwable): Unit = ()
          })
          .outputMode("update")
          .start()
        def awaitCount(n: Int): Unit = {
          val deadline = System.currentTimeMillis() + 120000
          while (ContRecCollector.values(bucket).size < n &&
              System.currentTimeMillis() < deadline) {
            Thread.sleep(100)
          }
          assert(ContRecCollector.values(bucket).size >= n,
            s"delivery $n never arrived (query ex: ${q.exception})")
        }
        try {
          in.addData(("a", 1L))
          awaitCount(1)
          Thread.sleep(sleepMs)
          in.addData(("a", 1L))
          awaitCount(2)
        } finally q.stop()
        ContRecCollector.values(bucket).sorted
          .map(v => (v / 2, v % 2 == 1))
      }
      // TTL 500ms, 3s pause: the second phase must find NO state —
      // the counter restarts and the processor reports existed=false
      val evicted = run(ttlMs = 500, sleepMs = 3000, bucket = 201)
      assert(evicted == Seq((1L, false), (1L, false)),
        s"expired state must read as absent: $evicted")
      // TTL 10 minutes, no pause: state survives and accumulates
      val kept = run(ttlMs = 600000, sleepMs = 0, bucket = 202)
      assert(kept == Seq((1L, false), (2L, true)),
        s"fresh state must survive: $kept")
    }
  }

  test("StreamingQueryListener: start, per-batch progress, and " +
      "termination events all fire for a query") {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        events.add(s"started:${e.name}")
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        events.add(s"progress:${e.progress.name}:${e.progress.numInputRows}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        events.add("terminated")
    }
    spark.streams.addListener(listener)
    try {
      val in = MemoryStream[Event]
      val q = in.toDF()
        .groupBy(org.apache.spark.sql.functions.col("event_type"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .writeStream.format("memory").queryName("listener_q")
        .outputMode("complete").start()
      try {
        in.addData(ev(1, 1), ev(2, 2))
        q.processAllAvailable()
      } finally q.stop()
      // listener events are posted asynchronously on the bus
      val deadline = System.currentTimeMillis() + 30000
      def evs = {
        val b = Seq.newBuilder[String]
        val it = events.iterator(); while (it.hasNext) b += it.next()
        b.result()
      }
      while (!evs.contains("terminated") &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      val seen = evs
      assert(seen.contains("started:listener_q"), s"no start event: $seen")
      assert(seen.exists(_.startsWith("progress:listener_q:2")),
        s"no progress event carrying the 2 input rows: $seen")
      assert(seen.contains("terminated"), s"no termination event: $seen")
    } finally spark.streams.removeListener(listener)
  }

  test("observe() metrics surface per micro-batch in streaming progress") {
    // the streaming half of the q_observe gate: observed metrics
    // accumulate ON the executors during the micro-batch and land in
    // StreamingQueryProgress.observedMetrics — the zero-extra-pass
    // data-quality hook for production streams
    val in = MemoryStream[Event]
    import org.apache.spark.sql.functions.{count, lit, sum}
    val obs = in.toDF().observe("gate_metrics",
      count(lit(1)).as("n"), sum($"value").as("v"))
    val q = obs.writeStream.format("memory").queryName("obs_stream")
      .outputMode("append").start()
    try {
      in.addData(ev(1, 1, value = 2.0), ev(2, 2, value = 3.0),
        ev(3, 3, value = 5.0))
      q.processAllAvailable()
      val metrics = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("gate_metrics")))
      assert(metrics.nonEmpty, "no observed metrics in any progress event")
      val last = metrics.last
      assert(last.getLong(last.fieldIndex("n")) == 3L)
      assert(last.getDouble(last.fieldIndex("v")) == 10.0)
      // a second batch reports ITS batch's metrics, not a running total
      in.addData(ev(4, 4, value = 7.0))
      q.processAllAvailable()
      val m2 = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("gate_metrics"))).last
      assert(m2.getLong(m2.fieldIndex("n")) == 1L &&
        m2.getDouble(m2.fieldIndex("v")) == 7.0,
        "observe must be per-micro-batch, not cumulative")
    } finally q.stop()
  }

  test("console sink runs a micro-batch without error") {
    val in = MemoryStream[Event]
    val q = in.toDS().toDF().writeStream.format("console")
      .option("numRows", 5).outputMode("append").start()
    try {
      in.addData(ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      assert(q.lastProgress != null && q.exception.isEmpty)
    } finally q.stop()
  }

  test("output modes: update mode emits refined aggregates per batch") {
    val in = MemoryStream[Event]
    val agg = in.toDS().toDF().groupBy($"event_type").count()
    val q = runToMemory(agg, "upd", mode = "update")
    try {
      in.addData(ev(1, 1), ev(2, 2))
      q.processAllAvailable()
      in.addData(ev(3, 3))
      q.processAllAvailable()
      // last update row reflects the refined count of 3
      val counts = spark.table("upd").as[(String, Long)].collect().map(_._2)
      assert(counts.max == 3)
    } finally q.stop()
  }

  test("stream-static join is stateless and broadcasts the static dim") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val in = MemoryStream[Event]
    val joined = in.toDS().toDF()
      .join(broadcast(dim), col("user_id") === col("uid"))
      .select(col("event_id"), col("tier"))
    val q = runToMemory(joined, "ss_join")
    try {
      in.addData(ev(1, 1, user = 1), ev(2, 2, user = 3))
      q.processAllAvailable()
      in.addData(ev(3, 3, user = 2))
      q.processAllAvailable()
      // user 3 has no dim row (inner join drops it); 1 and 2 match
      val rows = spark.table("ss_join").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "gold"), (3L, "silver")))
      // stateless: no state-store operator, and the dim side broadcast
      val lastExec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(lastExec.contains("BroadcastHashJoin"),
        s"static dim should broadcast:\n$lastExec")
      assert(!lastExec.contains("StateStore"),
        s"stream-static join must hold no join state:\n$lastExec")
    } finally q.stop()
  }
  test("per-row ForeachWriter sink: open/process/close contract with " +
      "epoch-tagged delivery (reference ForeachWriterProvider)") {
    // The PER-ROW foreach sink (distinct from foreachBatch): Spark
    // calls open(partitionId, epochId) once per partition per epoch,
    // process(row) for each row, close(error) exactly once per open —
    // the hook a user implements for idempotent per-row writes.  The
    // harness records every lifecycle call; asserts: every id arrives
    // exactly once, open/close counts pair, no close carries an error,
    // and rows only flow between an open and its close (process sees
    // an opened partition).
    ForeachHarness.reset()
    val in = MemoryStream[Event]
    val q = in.toDS().writeStream
      .foreach(new org.apache.spark.sql.ForeachWriter[Event] {
        // transient Boolean: after the writer deserializes on an
        // executor the JVM default is FALSE, so the guard actually
        // trips if process() runs before open() (a transient Long
        // sentinel like -1 would reset to 0 and pass vacuously)
        @transient private var opened: Boolean = false
        @transient private var pid: Long = -1
        @transient private var eid: Long = -1
        override def open(partitionId: Long, epochId: Long): Boolean = {
          pid = partitionId; eid = epochId; opened = true
          ForeachHarness.opens.incrementAndGet()
          true
        }
        override def process(e: Event): Unit = {
          if (!opened) ForeachHarness.errors.add("process before open")
          ForeachHarness.rows.add((pid, eid, e.event_id))
        }
        override def close(err: Throwable): Unit = {
          if (err != null) ForeachHarness.errors.add(err.toString)
          ForeachHarness.closes.incrementAndGet()
        }
      })
      .outputMode("append")
      .option("checkpointLocation",
        graft.TmpCleanup.tempDir("graft_foreach_ckpt"))
      .start()
    try {
      in.addData(ev(1, 10), ev(2, 11), ev(3, 12))
      q.processAllAvailable()
      in.addData(ev(4, 13), ev(5, 14))
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val seen = ForeachHarness.rows.asScala.toSeq
    assert(seen.map(_._3).sorted == Seq(1L, 2L, 3L, 4L, 5L),
      s"every row delivered exactly once, got $seen")
    assert(ForeachHarness.errors.isEmpty,
      s"close(error) must not fire: ${ForeachHarness.errors}")
    val o = ForeachHarness.opens.get(); val c = ForeachHarness.closes.get()
    assert(o == c && o > 0, s"open/close must pair: opens=$o closes=$c")
    // the two addData rounds ran as (at least) two epochs
    assert(seen.map(_._2).distinct.size >= 2,
      s"expected multiple epochs, got ${seen.map(_._2).distinct}")
  }
}

/** Static collector for the ForeachWriter test — the writer is
  * serialized to tasks, so instance fields can't collect; local-mode
  * executors share this JVM and write here.
  */
object ForeachHarness {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
  val opens = new java.util.concurrent.atomic.AtomicInteger
  val closes = new java.util.concurrent.atomic.AtomicInteger
  def reset(): Unit = { rows.clear(); errors.clear(); opens.set(0); closes.set(0) }
}

