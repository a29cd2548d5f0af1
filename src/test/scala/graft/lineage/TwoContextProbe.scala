package graft.lineage

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.GraftSession

/** Two SparkContexts one after another in one JVM, each reusing a key
  * that the first one's lineage state was once written under:
  *  - checkpoint: session 1 checkpoints `x = id + 1` through
  *    `CacheScope.traced`; session 2 builds an RDD-backed frame whose
  *    RDD gets the same id;
  *  - write: session 1 CTASes `default.t` and captures it; session 2
  *    (another warehouse) writes its own `default.t`.
  *
  * Prints one `probe <name> ...` line per case with the RDD ids or
  * table locations and session 2's `x` sources; [[LineageRegistrySpec]]
  * runs it in a child JVM, since the shared test session must not stop.
  *
  *   runMain graft.lineage.TwoContextProbe   (from the test classpath)
  */
object TwoContextProbe {

  private def session(): SparkSession = GraftSession.builder().getOrCreate()

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def sources(g: ColumnLineage.LineageGraph): String =
    g("x").map(_.toString).toSeq.sorted.mkString(",")

  private def rddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.getOrElse(-1)

  private def location(s: SparkSession, table: String): String =
    s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier(table)).location.toString

  def main(args: Array[String]): Unit = {
    val s1 = session()
    val cp = graft.ops.CacheScope.traced(s1.range(5).selectExpr("id + 1 AS x"))
    val id1 = rddId(cp)
    s1.sql("DROP TABLE IF EXISTS t")
    val ctas = s1.sql(
      "CREATE TABLE t USING parquet AS SELECT id + 1 AS x FROM range(5)")
    SinkLineage.capture(ctas.queryExecution)
    val loc1 = location(s1, "t")
    stop(s1)

    val s2 = session()
    // build RDD-backed frames until one's RDD id reaches the checkpoint's
    val df = Iterator.continually(s2.createDataFrame(
        s2.sparkContext.parallelize(Seq(Row(1L))),
        StructType(Seq(StructField("x", LongType)))))
      .find(rddId(_) >= id1).get
    println(s"probe checkpoint rdd1=$id1 rdd2=${rddId(df)} " +
      s"x=${sources(ColumnLineage.of(df))}")
    import s2.implicits._
    s2.sql("DROP TABLE IF EXISTS t")
    Seq(7L, 8L).toDF("x").write.saveAsTable("t")
    println(s"probe write loc1=$loc1 loc2=${location(s2, "t")} " +
      s"x=${sources(ColumnLineage.of(s2.table("t")))}")
    stop(s2)
  }
}
