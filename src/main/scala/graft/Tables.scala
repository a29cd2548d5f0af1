package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.graftbridge.SessionBridge

/** Named-table registry over the driver-generated parquet test data.
  *
  * Mirrors the reference's catalog surface (SessionCatalog /
  * `sql/catalyst/.../catalog/SessionCatalog.scala`) at the scale we need:
  * a fixed star schema resolved by name from a scale-factor directory.
  *
  * Scale notes: every load is a plain parquet scan, so Catalyst keeps
  * predicate pushdown / column pruning / partition pruning intact — at
  * 100 TB these tables would be directories of many files and nothing
  * here changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized per (session, dir, name).  A load starts no Spark job: the
    * schema comes from the one parquet footer Spark's own inference
    * would pick, read on the driver (`FooterSchema`), and the table is
    * loaded with that schema.  `spark.read.parquet` would infer it in a
    * Spark job instead, one per table, ten before a fresh session's
    * first query.  The memo holds the ANALYZED RELATION only (file
    * index + schema), never data or results: every action still scans
    * the parquet inputs.  A file rewritten in place under a memoized dir
    * is not seen; a different dir (alt corpus, scale rung) gets its own
    * entries.  Entries of a stopped session are dropped on the next
    * call, so the memo does not keep a dead session's SparkContext
    * reachable.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    synchronized {
      purgeStopped()
      loaded.getOrElseUpdate((spark, dir, name), frame(spark, dir, name))
    }
  private val loaded =
    scala.collection.mutable.Map.empty[(SparkSession, String, String), DataFrame]

  /** The unmemoized load; takes no lock. */
  private def frame(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  private def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterSchema.of(spark, path)).parquet(path)

  /** The events table's `ts` column has shipped in two physical forms
    * across test-data generations: nanosecond-precision parquet timestamps
    * (which Spark's µs TimestampType cannot hold — read as long via
    * nanosAsLong, then truncate ns → µs with integer division; ~1.7e18
    * exceeds 2^53 so float division would corrupt it) and plain
    * timestamp[us] (pass through unchanged). Adapt to whichever schema the
    * file actually has instead of assuming one, so a data regeneration
    * can't poison every events-touching query at analysis time.
    * DuckDB's `CAST(ts AS TIMESTAMP)` is identical under both forms.
    * `nanosAsLong` comes from the session shape
    * ([[GraftSession.withHive]]), so the footer's schema already shows
    * the long form and loading sets no conf.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsTs(parquet(spark, s"$dir/events.parquet"))

  /** The `ts` switch of [[events]] over the raw events frame. */
  private[graft] def eventsTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampType => raw
      case _                => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Register every table as a temp view so `spark.sql` works too.
    * Each session has one current dir.  A call with that dir is a
    * lookup; a call with another dir re-points all ten views at that
    * dir's memoized loads, so a session that switches corpora (Bench's
    * scale ladder, an alt-seed run) never reads the previous one through
    * a view.  A table that fails to register loses its view rather than
    * keep the previous dir's, and the dir only becomes current once all
    * ten succeed, so the next call retries: a transient load failure
    * can't wedge the session into TABLE_OR_VIEW_NOT_FOUND for the rest
    * of a battery.
    *
    * The ten loads and view registrations are independent, so they run
    * concurrently, on `min(10, driver cores)` threads made for the call
    * and joined before it returns; nothing about this is settable.  The
    * memo, the failure report (in table order) and the current dir are
    * written on the calling thread afterwards.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    purgeStopped()
    if (!current.get(spark).contains(dir)) {
      // Register each table independently: one table with an unexpected
      // schema must not poison the other nine views (a single failed
      // registerAll would otherwise take down every query in a battery).
      val (frames, errors) =
        registerConcurrently(spark, dir, names.map(n => n -> loaded.get((spark, dir, n))))
      val ok = names.indices.map { i =>
        val n = names(i)
        Option(frames(i)).foreach(loaded.getOrElseUpdate((spark, dir, n), _))
        errors(i) match {
          case null => true
          case e =>
            System.err.println(s"[tables] failed to register '$n': ${e.getMessage}")
            spark.catalog.dropTempView(n)
            false
        }
      }
      if (ok.forall(identity)) current(spark) = dir else current -= spark
    }
  }

  /** Build each table's frame (or take its memoized one) and register
    * its view, on a pool of `min(tables, driver cores)` daemon threads
    * that the call starts and joins.  Returns per table the frame (null
    * if it failed to build) and the error (null if the view registered).
    * A worker runs with `spark` active and never takes the `Tables`
    * monitor, which the caller holds.
    */
  private def registerConcurrently(spark: SparkSession, dir: String,
      tables: Seq[(String, Option[DataFrame])]): (Array[DataFrame], Array[Throwable]) = {
    val frames = new Array[DataFrame](tables.size)
    val errors = new Array[Throwable](tables.size)
    val next = new AtomicInteger()
    val workers = Seq.tabulate(math.min(tables.size, Runtime.getRuntime.availableProcessors)) { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < tables.size) {
          val (n, memo) = tables(i)
          try SessionBridge.withActive(spark) {
            frames(i) = memo.getOrElse(frame(spark, dir, n))
            frames(i).createOrReplaceTempView(n)
          } catch { case e: Throwable => errors(i) = e }
          i = next.getAndIncrement()
        }
      }, s"graft-tables-register-$w")
      t.setDaemon(true)
      t
    }
    try workers.foreach(_.start())
    finally workers.foreach(_.join())
    (frames, errors)
  }

  private val current = scala.collection.mutable.Map.empty[SparkSession, String]

  private def purgeStopped(): Unit = {
    loaded.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    current.filterInPlace { case (s, _) => !s.sparkContext.isStopped }
  }
}
