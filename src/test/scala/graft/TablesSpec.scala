package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.scalatest.BeforeAndAfterAll

import graft.streaming.CkptFixtureGen.deleteRecursively

/** `Tables` reads each table's schema from one parquet footer on the
  * driver instead of in a Spark job, and keeps one current corpus dir
  * per session.  The schema must be the one `spark.read.parquet` infers,
  * on a pyarrow-written corpus and on a Spark-written multi-part one.
  */
class TablesSpec extends SparkSpec with BeforeAndAfterAll {
  private lazy val scratch: Path = Files.createTempDirectory("graft_tables_spec")

  /** sf0.001 rewritten by Spark: three part files per table, a `_SUCCESS`
    * marker, summary files on every other table (Spark's inference reads
    * `_common_metadata` first when there is one), and `events.ts` as
    * nanoseconds in a plain long column.
    */
  private lazy val sparkWritten: String = {
    val out = scratch.resolve("spark_written").toString
    Tables.names.zipWithIndex.foreach { case (n, i) =>
      val src =
        if (n == "events") Tables.load(spark, sf, n)
          .withColumn("ts", unix_micros(col("ts")) * 1000L)
        else spark.read.parquet(s"$sf/$n.parquet")
      src.repartition(3).write
        .option("parquet.summary.metadata.level", if (i % 2 == 0) "ALL" else "NONE")
        .parquet(s"$out/$n.parquet")
    }
    out
  }

  override def afterAll(): Unit =
    try deleteRecursively(scratch) finally super.afterAll()

  private def output(df: DataFrame) =
    df.queryExecution.analyzed.output.map(a => (a.name, a.dataType, a.nullable))

  /** What `spark.read.parquet` gives for the table, after the same `ts`
    * switch `Tables.load` applies to `events`.
    */
  private def inferred(dir: String, n: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$n.parquet")
    if (n == "events") Tables.eventsTs(raw) else raw
  }

  private def fresh(): SparkSession = spark.newSession()

  test("the Spark-written corpus has multi-part tables and summary files") {
    val dir = Paths.get(sparkWritten)
    Tables.names.zipWithIndex.foreach { case (n, i) =>
      val files = Files.list(dir.resolve(s"$n.parquet"))
      val names = try files.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSeq
        finally files.close()
      assert(names.contains("_SUCCESS"), n)
      assert(names.count(_.startsWith("part-")) == 3, s"$n: $names")
      assert(names.contains("_common_metadata") == (i % 2 == 0), s"$n: $names")
    }
  }

  for ((label, dir) <- Seq("pyarrow-written sf0.001" -> (() => sf),
      "Spark-written multi-part" -> (() => sparkWritten)))
    test(s"load gives spark.read.parquet's schema and analyzed output ($label)") {
      val s = fresh()
      Tables.names.foreach { n =>
        val got = Tables.load(s, dir(), n)
        val want = inferred(dir(), n)
        assert(got.schema == want.schema, n)
        assert(output(got) == output(want), n)
      }
    }

  test("registerAll on a fresh session starts no Spark job") {
    val s = fresh()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Tables.registerAll(s, sf)
      ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get == 0)
    Tables.names.foreach(n => assert(s.catalog.tableExists(n), n))
  }

  test("registerAll re-points every view when the session's dir changes") {
    val (a, b) = (sf, "/root/testdata/sf0.01")
    val aFile = spark.read.parquet(s"$a/orders.parquet")
    val aRows = aFile.count()
    assert(spark.read.parquet(s"$b/orders.parquet").count() != aRows)
    val s = fresh()
    Seq(a, b, a).foreach(Tables.registerAll(s, _))
    assert(s.table("orders").inputFiles.toSeq == aFile.inputFiles.toSeq)
    assert(s.sql("SELECT count(*) FROM orders").head().getLong(0) == aRows)
    Tables.names.foreach { n =>
      assert(s.table(n).inputFiles.forall(_.contains(s"$a/")), n)
    }
  }

  test("a missing table reports its failure and the other nine still register") {
    val dir = Files.createDirectories(scratch.resolve("missing_orders"))
    Tables.names.filter(_ != "orders").foreach { n =>
      Files.createSymbolicLink(dir.resolve(s"$n.parquet"), Paths.get(s"$sf/$n.parquet"))
    }
    // registered on another dir first: the failed table must lose its
    // view, not keep serving that dir
    val s = fresh()
    Tables.registerAll(s, sf)
    val err = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(err, true))
    try Tables.registerAll(s, dir.toString) finally System.setErr(saved)
    assert(err.toString.contains("[tables] failed to register 'orders'"), err.toString)
    assert(!s.catalog.tableExists("orders"))
    Tables.names.filter(_ != "orders").foreach { n =>
      assert(s.table(n).inputFiles.forall(_.contains(dir.toString)), n)
    }
  }
}
