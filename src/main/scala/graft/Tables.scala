package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

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
      loaded.getOrElseUpdate((spark, dir, name),
        if (name == "events") events(spark, dir)
        else parquet(spark, s"$dir/$name.parquet"))
    }
  private val loaded =
    scala.collection.mutable.Map.empty[(SparkSession, String, String), DataFrame]

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
    */
  def registerAll(spark: SparkSession, dir: String): Unit = synchronized {
    purgeStopped()
    if (!current.get(spark).contains(dir)) {
      // Register each table independently: one table with an unexpected
      // schema must not poison the other nine views (a single failed
      // registerAll would otherwise take down every query in a battery).
      val ok = names.map { n =>
        try { load(spark, dir, n).createOrReplaceTempView(n); true }
        catch { case e: Throwable =>
          System.err.println(s"[tables] failed to register '$n': ${e.getMessage}")
          spark.catalog.dropTempView(n)
          false
        }
      }
      if (ok.forall(identity)) current(spark) = dir else current -= spark
    }
  }
  private val current = scala.collection.mutable.Map.empty[SparkSession, String]

  private def purgeStopped(): Unit = {
    loaded.filterInPlace { case ((s, _, _), _) => !s.sparkContext.isStopped }
    current.filterInPlace { case (s, _) => !s.sparkContext.isStopped }
  }
}
