package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated name prefixes to run a
    // subset (fast local iteration); the driver always passes two args
    val Array(sfDir, outDir) = args.take(2)
    val prefixes = args.drop(2).headOption.map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    val spark = GraftSession.builder()
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
      finally TmpCleanup.releaseGateScratch() // this gate's replay/roundtrip dirs
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Coverage manifest: the full selected-query list plus any failures.
    // A query that errors produces no dump, and a dump-only compare would
    // silently skip it — the checker must treat (queries \ dumps) as
    // failures, not absences. Exit nonzero so a broken run can never be
    // mistaken for a green gate.
    val allNames = SparkEntry.queries.keys.filter(selected).toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      allNames.map(q).mkString("[", ",", "]"))
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/${allNames.size} queries FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
