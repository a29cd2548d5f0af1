package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Memoized per (session, dir, name): building a parquet DataFrame
    * lists the directory and reads footers for schema inference EVERY
    * time — pure metadata latency repeated by all ~600 gates × several
    * bench invocations each (the round-16 verdict's "per-entry fixed
    * latency" item).  The memo holds the ANALYZED RELATION only (file
    * index + schema), never data or results: every action still scans
    * the parquet inputs.  Test data is immutable within a session, so
    * the cached file index cannot go stale; distinct dirs (alt corpora,
    * scale rungs) get distinct entries.  Entries of a stopped session
    * are dropped on the next call, so the memo does not keep a dead
    * session's SparkContext reachable.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    synchronized {
      purgeStopped()
      loaded.getOrElseUpdate((spark, dir, name),
        if (name == "events") events(spark, dir)
        else spark.read.parquet(s"$dir/$name.parquet"))
    }
  private val loaded =
    scala.collection.mutable.Map.empty[(SparkSession, String, String), DataFrame]

  /** The events table's `ts` column has shipped in two physical forms
    * across test-data generations: nanosecond-precision parquet timestamps
    * (which Spark's µs TimestampType cannot hold — read as long via
    * nanosAsLong, then truncate ns → µs with integer division; ~1.7e18
    * exceeds 2^53 so float division would corrupt it) and plain
    * timestamp[us] (pass through unchanged). Adapt to whichever schema the
    * file actually has instead of assuming one, so a data regeneration
    * can't poison every events-touching query at analysis time.
    * DuckDB's `CAST(ts AS TIMESTAMP)` is identical under both forms.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampType => raw
      case _                => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Register every table as a temp view so `spark.sql` works too.
    * Idempotent per (session, dir): repeated calls from a query battery
    * skip the 10 view re-registrations (and their parquet footer reads).
    * A table that fails to register is retried on the next call — the
    * (session, dir) pair is only marked done once ALL tables succeed,
    * so a transient load failure can't wedge the session into
    * TABLE_OR_VIEW_NOT_FOUND for the rest of the battery.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    purgeStopped()
    if (!registered.contains((spark, dir))) {
      // Register each table independently: one table with an unexpected
      // schema must not poison the other nine views (a single failed
      // registerAll would otherwise take down every query in a battery).
      val ok = names.map { n =>
        try { load(spark, dir, n).createOrReplaceTempView(n); true }
        catch { case e: Throwable =>
          System.err.println(s"[tables] failed to register '$n': ${e.getMessage}")
          false
        }
      }
      if (ok.forall(identity)) registered += ((spark, dir))
    }
  }
  private val registered = scala.collection.mutable.Set.empty[(SparkSession, String)]

  private def purgeStopped(): Unit = {
    loaded.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    registered.filterInPlace { case (s, _) => !s.sparkContext.isStopped }
  }
}
