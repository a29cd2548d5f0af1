package graft.streaming

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** One-off generator for the committed checkpoint fixture
  * (`src/test/resources/ckpt-fixture-v1/`) that
  * `RecoverySpec`("recovers from the committed checkpoint fixture")
  * consumes — the analogue of the reference's versioned
  * `structured-streaming/checkpoint-version-2.*` test fixtures.
  *
  * Run once per checkpoint-format change:
  *   sbt "Test/runMain graft.streaming.CkptFixtureGen"
  * then commit the regenerated resources.
  *
  * The source directory is a FIXED absolute path: the file-source log
  * (`ckpt/sources/0/`) pins each file by its absolute path AND its
  * modification time, so a consumer must recreate the exact same files
  * at the exact same location and then set each file's mtime back to
  * the `timestamp` the log records for it.  Neither git nor
  * [[copyTree]] keeps mtimes.  After each batch `FileStreamSource`
  * forgets log entries older than the newest file's timestamp minus
  * `maxFileAge` (default 7 days); a forgotten file whose mtime is
  * fresh is then listed as new, so without the restored mtime batch 0
  * is replayed once the fixture is a week old.  The checkpoint itself
  * is relocatable (offsets reference the source, not the checkpoint
  * root).
  */
object CkptFixtureGen {
  val SrcDir = "/tmp/graft_ckpt_fixture_src"
  val ResDir = "src/test/resources/ckpt-fixture-v1"

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_)) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  def copyTree(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.forEach { child =>
      val dst = to.resolve(child.getFileName)
      if (Files.isDirectory(child)) copyTree(child, dst)
      else Files.copy(child, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val ckptDir = Files.createTempDirectory("graft_ckpt_fixture_gen").toString
    deleteRecursively(new File(SrcDir).toPath)
    // batch 0: the data whose aggregation state the fixture captures
    Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(SrcDir)

    val counts = spark.readStream
      .schema("k STRING, v LONG").parquet(SrcDir)
      .groupBy($"k").count()
    val q = counts.writeStream
      .option("checkpointLocation", ckptDir)
      .outputMode("update")
      .format("noop")
      .start()
    try q.processAllAvailable() finally q.stop()

    val res = new File(ResDir).toPath
    deleteRecursively(res)
    copyTree(new File(SrcDir).toPath, res.resolve("src"))
    copyTree(new File(ckptDir).toPath, res.resolve("ckpt"))
    println(s"fixture written to $ResDir")
    spark.stop()
  }
}
