package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry, Tables, TmpCleanup}
import graft.lineage.ColumnLineage

/** One benchmark run of one workload, in one JVM.
  *
  * Usage: `Harness run <exec|plan> <dataDir> <opsFile> <warmPasses> <seconds> <trace> <outDir>`
  *        `Harness scan <dataDir> <outFile>`
  *
  * `run` sets the session up several times (timed), warms the workload
  * with untimed passes, then drives its ops in a closed loop from one
  * client thread, starting passes over the op list for `seconds`.  The
  * last warm-up pass doubles as the verification pass: its results are
  * written under `outDir/verify` for the oracle check.  Everything
  * measured is kept in memory and written once, as `outDir/raw.json`, at
  * the end; the metrics are computed from it by `run.py`.
  *
  * An op is one user request:
  *  - `exec`: build the gate's frame, then `collect()` every row;
  *  - `plan`: build the frame, force the optimized and physical plans,
  *    then resolve column lineage (`ColumnLineage.of` and `hopsOf`).
  *
  * With `trace` = 1, timed passes come in pairs of one traced and one
  * untraced pass, the traced one first in every other pair, so warm-up
  * drift falls on both sides alike; the loop ends on a whole number of
  * both orders.  A traced op records spans at every boundary this harness calls
  * (op, build, optimize, physical, lineage, collect) and attributes
  * Spark jobs and stages to them through a local property, which Spark
  * copies into the jobs AQE launches on other threads.  The listeners
  * keep only the events of traced ops, so their cost falls on those.
  *
  * `scan` lists the gates whose builder launches no Spark job.
  */
object Harness {
  val SpanKey = "graftbench.span"
  private val Setups = 5

  /** Wall clock of the JVM in ns on the `System.nanoTime` axis, so
    * listener times (epoch ms) and span times (nanoTime) compare. */
  private val epochOffsetNs: Long =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def epochMsToNs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: kind :: dir :: opsFile :: warm :: secs :: trace :: out :: Nil =>
      val ops = Files.readAllLines(Paths.get(opsFile)).asScala.map(_.trim)
        .filter(_.nonEmpty).toVector
      new Run(kind == "plan", dir, ops, warm.toInt, secs.toDouble, trace == "1", out).run()
      sys.exit(0) // a lingering non-daemon thread must not keep the JVM up
    case "scan" :: dir :: out :: Nil =>
      scan(dir, out)
      sys.exit(0)
    case _ =>
      System.err.println("usage: Harness run <exec|plan> <dataDir> <opsFile> " +
        "<warmPasses> <seconds> <0|1> <outDir> | Harness scan <dataDir> <outFile>")
      sys.exit(2)
  }

  /** The session shape of graft's Bench and Verify mains. */
  def newSession(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = GraftSession.withHive(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- JSON

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def jn(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def jobj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${js(k)}:$v" }.mkString("{", ",", "}")
  def jarr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  // ------------------------------------------------------------- results

  /** Order-insensitive fingerprint of a result: row count plus the sum
    * and the xor of per-row hashes. */
  def fingerprint(rows: Array[Row]): String = {
    var sum = 0L
    var mix = 0L
    rows.foreach { r =>
      val h = canonical(r).hashCode.toLong
      sum += h
      mix ^= h * 0x9E3779B97F4A7C15L
    }
    s"${rows.length}:$sum:$mix"
  }

  /** Value-based view of a row: arrays by content, nested rows
    * recursively (a `byte[]` hashes by identity otherwise). */
  private def canonical(v: Any): Any = v match {
    case r: Row => r.toSeq.map(canonical)
    case b: Array[Byte] => b.toSeq
    case a: Array[_] => a.toSeq.map(canonical)
    case s: scala.collection.Seq[_] => s.toSeq.map(canonical)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => (canonical(k), canonical(x)) }.toSet
    case d: java.math.BigDecimal => d.stripTrailingZeros()
    case x => x
  }

  /** Column lineage of a frame as one line per output column, with the
    * data directory written as `$DATA` so it holds on every corpus. */
  def lineageText(g: ColumnLineage.LineageGraph, dir: String): String = {
    val uri = Paths.get(dir).toUri.toString.stripSuffix("/")
    val abs = Paths.get(dir).toAbsolutePath.toString
    g.outputs.map { o =>
      o.name + " <- " + o.sources.toSeq.map(_.toString).sorted.mkString(", ")
    }.mkString("\n").replace(uri, "$DATA").replace("file:" + abs, "$DATA")
      .replace(abs, "$DATA")
  }

  // --------------------------------------------------------------- trace

  /** A listener-side record of one job or stage, attributed to the
    * harness span that was current on the thread that submitted it. */
  final case class Task(kind: String, id: Int, span: Long, startNs: Long,
      endNs: Long, m: Map[String, Double])

  final class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, (Long, Long)]() // id -> span, start
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
    private val stageSpan = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong)
        .getOrElse(-1L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sp = spanOf(e.properties)
      if (sp >= 0) jobs.put(e.jobId, (sp, epochMsToNs(e.time)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { case (sp, t0) =>
        done.add(Task("job", e.jobId, sp, t0, epochMsToNs(e.time), Map.empty))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val sp = spanOf(e.properties)
      if (sp >= 0) stageSpan.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), sp)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())))
        .foreach(sp => stageDone(e.stageInfo, sp.longValue))
    private def stageDone(si: StageInfo, sp: Long): Unit = {
      val tm = si.taskMetrics
      val mb = 1024.0 * 1024.0
      val m: Map[String, Double] = if (tm == null) Map("tasks" -> si.numTasks)
        else Map(
          "tasks" -> si.numTasks,
          "task_run_s" -> tm.executorRunTime / 1e3,
          "task_cpu_s" -> tm.executorCpuTime / 1e9,
          "gc_s" -> tm.jvmGCTime / 1e3,
          "shuffle_read_mb" -> (tm.shuffleReadMetrics.remoteBytesRead +
            tm.shuffleReadMetrics.localBytesRead) / mb,
          "shuffle_write_mb" -> tm.shuffleWriteMetrics.bytesWritten / mb,
          "spill_mb" -> (tm.memoryBytesSpilled + tm.diskBytesSpilled) / mb,
          "input_mb" -> tm.inputMetrics.bytesRead / mb,
          "output_mb" -> tm.outputMetrics.bytesWritten / mb,
          "output_records" -> tm.outputMetrics.recordsWritten.toDouble)
      val t0 = si.submissionTime.map(epochMsToNs).getOrElse(0L)
      val t1 = si.completionTime.map(epochMsToNs).getOrElse(t0)
      done.add(Task("stage", si.stageId, sp, t0, t1, m))
    }

    /** Wait until every job seen so far has ended (the listener bus is
      * asynchronous), up to a few seconds. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 5000000000L
      def ended = done.asScala.count(_.kind == "job")
      while (ended < jobs.size && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200)
    }
  }

  /** Micro-batch progress, attributed to ops by time. */
  final class StreamRecorder extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Double])]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val at = epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      batches.add(at -> Map(
        "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "commit_ms" -> d.getOrElse("commitOffsets", 0.0),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble))
    }
  }

  /** An op's fingerprint (exec) or lineage text (plan), and the rows
    * an exec op collected. */
  type Result = (String, Option[(Array[Row], StructType)])

  final case class Span(id: Long, parent: Long, op: Long, name: String,
      startNs: Long, endNs: Long, attrs: Map[String, Double])

  final case class OpRec(name: String, pass: Int, traced: Boolean,
      startNs: Long, endNs: Long, fp: String, err: String)

  final class Run(plan: Boolean, dir: String, ops: Vector[String],
      warmPasses: Int, seconds: Double, trace: Boolean, out: String) {
    private val spans = mutable.ArrayBuffer.empty[Span]
    private var nextId = 0L
    private def newId(): Long = { nextId += 1; nextId }
    private var spark: SparkSession = _

    /** Time `body` as a child span of `parent` (when tracing), with the
      * span id set as the thread's local property for the duration. */
    private def span[T](on: Boolean, parent: Long, op: Long, name: String,
        id: Long = 0L)(attrs: T => Map[String, Double])(body: => T): T = {
      if (!on) return body
      val sid = if (id > 0) id else newId()
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, sid.toString)
      val t0 = System.nanoTime()
      try {
        val r = body
        spans += Span(sid, parent, op, name, t0, System.nanoTime(), attrs(r))
        r
      } finally sc.setLocalProperty(SpanKey, prev)
    }
    private def none[T](t: T): Map[String, Double] = Map.empty

    /** One op; returns its result fingerprint (exec) or lineage text (plan)
      * and, for the verification pass, the collected rows. */
    private def op(name: String, traced: Boolean, opId: Long): Result = {
      val df: DataFrame = span(traced, opId, opId, "build")(none[DataFrame]) {
        SparkEntry.queries(name)(spark, dir)
      }
      val qe = df.queryExecution
      // graft's optimizer rules, from the planning tracker
      span(traced, opId, opId, "optimize") { (_: Any) =>
        val rules = qe.tracker.rules.filter(_._1.startsWith("graft.")).values
        Map("graft_rule_ms" -> rules.map(_.totalTimeNs).sum / 1e6,
          "graft_rule_calls" -> rules.map(_.numInvocations).sum.toDouble,
          "graft_rule_effective" -> rules.map(_.numEffectiveInvocations).sum.toDouble)
      }(qe.optimizedPlan)
      span(traced, opId, opId, "physical")(none[Any])(qe.executedPlan)
      if (plan) {
        val g = span(traced, opId, opId, "lineage_of")(
          (g: ColumnLineage.LineageGraph) => Map(
            "source_cols" -> g.outputs.flatMap(_.sources).distinct.size.toDouble))(
          ColumnLineage.of(df))
        span(traced, opId, opId, "lineage_hops")((h: Seq[(String, ColumnLineage.HopNode)]) =>
          Map("outputs" -> h.size.toDouble,
            "unknown" -> h.count(x => endsUnknown(x._2)).toDouble))(
          ColumnLineage.hopsOf(df))
        (lineageText(g, dir), None)
      } else {
        val rows = span(traced, opId, opId, "collect")(
          (r: Array[Row]) => Map("rows" -> r.length.toDouble))(df.collect())
        (fingerprint(rows), Some(rows -> df.schema))
      }
    }

    private def endsUnknown(h: ColumnLineage.HopNode): Boolean = h match {
      case ColumnLineage.LeafHop(s) => s.table == "unknown"
      case d => d.children.exists(endsUnknown)
    }

    def run(): Unit = {
      new java.io.File(out).mkdirs()
      // ---- set-up, timed several times; the last session is kept
      val setup = mutable.ArrayBuffer.empty[Double]
      val register = mutable.ArrayBuffer.empty[Double]
      for (_ <- 0 until Setups) {
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = newSession()
        val t1 = System.nanoTime()
        Tables.registerAll(spark, dir)
        val t2 = System.nanoTime()
        setup += (t2 - t0) / 1e9
        register += (t2 - t1) / 1e6
      }
      val rec = if (trace) {
        val r = new Recorder; spark.sparkContext.addSparkListener(r); Some(r)
      } else None
      val srec = if (trace) {
        val r = new StreamRecorder; spark.streams.addListener(r); Some(r)
      } else None

      val records = mutable.ArrayBuffer.empty[OpRec]
      val leaked = mutable.Set.empty[String]
      var verify = Map.empty[String, Result]
      var verifyErr = Map.empty[String, String]

      /** One pass over the workload's ops; returns its wall seconds. */
      def pass(no: Int, traced: Boolean, keep: Boolean = false): Double = {
        val before = spark.conf.getAll
        val t0 = System.nanoTime()
        val kept = mutable.Map.empty[String, Result]
        val keptErr = mutable.Map.empty[String, String]
        val it = ops.iterator
        while (it.hasNext) {
          val name = it.next()
          val opId = newId()
          val s0 = System.nanoTime()
          val res: Either[String, Result] =
            try Right(span(traced, 0L, opId, "op", opId)(none[Result])(op(name, traced, opId)))
            catch { case e: Throwable =>
              val m = Option(e.getMessage).getOrElse(e.getClass.getName)
              Left(e.getClass.getSimpleName + ": " + m.linesIterator.nextOption().getOrElse("").take(300))
            }
          val s1 = System.nanoTime()
          res match {
            case Right(r) =>
              if (keep) kept(name) = r
              records += OpRec(name, no, traced, s0, s1, r._1, null)
            case Left(err) =>
              if (keep) keptErr(name) = err
              records += OpRec(name, no, traced, s0, s1, null, err)
          }
          TmpCleanup.releaseGateScratch()
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val after = spark.conf.getAll
        leaked ++= (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
        if (keep) { verify = kept.toMap; verifyErr = keptErr.toMap }
        wall
      }

      // ---- warm-up: a fixed number of passes per workload, so every run
      // stops at the same point of the warm-up curve; the last one is the
      // verification pass
      val w0 = System.nanoTime()
      val warm = (1 to warmPasses).map(i => pass(-i, traced = false, keep = i == warmPasses))
      val warmupS = (System.nanoTime() - w0) / 1e9
      val warmOps = records.size
      records.clear()

      // ---- timed closed loop, in whole passes so every run measures the
      // same op mix; traced runs time passes in the order traced,
      // untraced, untraced, traced, ... and end after a multiple of four
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      var no = 0
      while (System.nanoTime() < deadline || (trace && no % 4 != 0)) {
        pass(no, trace && (no + no / 2) % 2 == 0)
        no += 1
      }
      val timedS = (System.nanoTime() - start) / 1e9
      rec.foreach(_.drain())

      // ---- verification output (outside all timing)
      val vdir = s"$out/verify"
      verify.foreach { case (name, (fp, rows)) =>
        rows.foreach { case (rs, schema) =>
          try spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$vdir/$name")
          catch { case e: Throwable =>
            verifyErr += (name -> ("write: " + Option(e.getMessage).getOrElse("").take(200)))
          }
        }
      }
      val verifyJson = jobj(ops.distinct.map { n =>
        n -> jobj(Seq("fp" -> verify.get(n).map(v => js(v._1)).getOrElse("null"),
          "err" -> verifyErr.get(n).map(js).getOrElse("null"),
          "rows" -> verify.get(n).flatMap(_._2).map(_._1.length.toString).getOrElse("null")))
      })
      verify = Map.empty

      // ---- retained heap after an explicit full GC
      System.gc(); Thread.sleep(100); System.gc()
      val rt = Runtime.getRuntime
      val heapMb = (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)

      val tasks = rec.map(_.done.asScala.toVector).getOrElse(Vector.empty)
      val batches = srec.map(_.batches.asScala.toVector).getOrElse(Vector.empty)
      val json = jobj(Seq(
        "cores" -> Runtime.getRuntime.availableProcessors().toString,
        "setup_s" -> jarr(setup.map(jn)),
        "register_ms" -> jarr(register.map(jn)),
        "warmup_s" -> jn(warmupS),
        "warm_passes_s" -> jarr(warm.map(jn)),
        "warm_ops" -> warmOps.toString,
        "timed_s" -> jn(timedS),
        "retained_heap_mb" -> jn(heapMb),
        "conf_leaks" -> jarr(leaked.toSeq.sorted.map(js)),
        "ops" -> jarr(records.map(r => jobj(Seq(
          "name" -> js(r.name), "pass" -> r.pass.toString,
          "traced" -> r.traced.toString,
          "start_ns" -> r.startNs.toString, "end_ns" -> r.endNs.toString,
          "fp" -> Option(r.fp).map(js).getOrElse("null"),
          "err" -> Option(r.err).map(js).getOrElse("null"))))),
        "spans" -> jarr(spans.map(s => jobj(Seq(
          "id" -> s.id.toString, "parent" -> s.parent.toString,
          "op" -> s.op.toString, "name" -> js(s.name),
          "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
          "attrs" -> jobj(s.attrs.map { case (k, v) => k -> jn(v) }))))),
        "tasks" -> jarr(tasks.map(t => jobj(Seq(
          "kind" -> js(t.kind), "id" -> t.id.toString, "span" -> t.span.toString,
          "start_ns" -> t.startNs.toString, "end_ns" -> t.endNs.toString,
          "attrs" -> jobj(t.m.map { case (k, v) => k -> jn(v) }))))),
        "batches" -> jarr(batches.map { case (at, m) =>
          jobj(Seq("at_ns" -> at.toString) ++ m.map { case (k, v) => k -> jn(v) })
        }),
        "verify" -> verifyJson,
        "oracle" -> jobj(ops.distinct.flatMap(n =>
          SparkEntry.oracleSql.get(n).map(q => n -> js(q))))))
      Files.writeString(Paths.get(s"$out/raw.json"), json)
      spark.stop()
    }
  }

  // ---------------------------------------------------------------- scan

  /** Gates whose builder launches no Spark job, one per line. */
  def scan(dir: String, outFile: String): Unit = {
    val spark = newSession()
    Tables.registerAll(spark, dir)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ok = mutable.ArrayBuffer.empty[(String, Long)]
    names.zipWithIndex.foreach { case (n, i) =>
      spark.sparkContext.setLocalProperty(SpanKey, i.toString)
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        df.queryExecution.executedPlan
        ok += n -> i.toLong
      } catch { case _: Throwable => }
      spark.sparkContext.setLocalProperty(SpanKey, null)
      TmpCleanup.releaseGateScratch()
    }
    rec.drain()
    Thread.sleep(2000)
    val withJobs = rec.jobs.asScala.values.map(_._1).toSet
    val planOnly = ok.filterNot(x => withJobs.contains(x._2)).map(_._1)
    Files.writeString(Paths.get(outFile), planOnly.mkString("", "\n", "\n"))
    System.err.println(s"[scan] ${planOnly.size} of ${names.size} gates launch no job")
    spark.stop()
  }
}
