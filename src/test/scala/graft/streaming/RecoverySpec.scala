package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import CkptFixtureGen.deleteRecursively

/** Checkpoint/WAL recovery (§3.3: OffsetSeqLog + HDFSMetadataLog in the
  * reference): a file-source query is stopped and restarted against the
  * same checkpoint; already-committed input must not be reprocessed and
  * new input must be picked up exactly once.
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("restart from checkpoint neither loses nor replays batches") {
    val inDir = Files.createTempDirectory("graft_stream_in").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    try {
      val nation = Tables.load(spark, sf, "nation")
      val schema = nation.schema

      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      def start() = spark.readStream.schema(schema).parquet(inDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r => seen.add(r.getAs[Int]("n_nationkey").toLong))
          ()
        }
        .start()

      // phase 1: first file committed
      nation.filter(col("n_nationkey") < 10).write.mode("append").parquet(inDir)
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      val afterPhase1 = seen.size()
      assert(afterPhase1 == 10)

      // phase 2: new file arrives while the query is DOWN; restart
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 15)
        .write.mode("append").parquet(inDir)
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()

      val all = { import scala.jdk.CollectionConverters._; seen.iterator().asScala.toSeq }
      assert(all.size == 15, s"expected 15 total, got ${all.size}")
      assert(all.distinct.size == 15, "a batch was replayed after restart")
    } finally Seq(inDir, ckpt).foreach(d => deleteRecursively(Paths.get(d)))
  }

  test("recovers from the committed checkpoint fixture (version compat)") {
    // Analogue of the reference's versioned checkpoint-compat fixtures
    // (structured-streaming/checkpoint-version-2.*): the offset log,
    // commit log and state-store deltas under
    // src/test/resources/ckpt-fixture-v1 were produced by
    // CkptFixtureGen and COMMITTED; this test restarts the same
    // aggregation against a copy of that checkpoint and must (a) load
    // the persisted state (a→2, b→1), (b) not replay the committed
    // batch, (c) process new input exactly once on top of the old state.
    import java.io.File
    import CkptFixtureGen.{SrcDir, ResDir, copyTree}
    val fixture = new File(ResDir).toPath
    assert(Files.exists(fixture), s"committed fixture missing at $ResDir")

    // the file-source log pins each file by absolute path AND
    // modification time: recreate the source dir byte-for-byte at the
    // pinned location, then give each file back the mtime the log
    // recorded.  Neither a git checkout nor copyTree keeps mtimes, and
    // after a batch FileStreamSource forgets log entries older than the
    // newest file minus maxFileAge (7 days); a file left with a fresh
    // mtime then counts as new and batch 0 is replayed once the fixture
    // is a week old.
    val srcDir = new File(SrcDir).toPath
    // the checkpoint itself is relocatable — restart from a copy so the
    // committed resources are never mutated
    val ckpt = Files.createTempDirectory("graft_ckpt_fixture_run")
    try {
      deleteRecursively(srcDir)
      copyTree(fixture.resolve("src"), srcDir)
      val logged = RecoverySpec.loggedFileTimes(fixture.resolve("ckpt/sources/0"))
      assert(logged.nonEmpty, "fixture's file-source log lists no files")
      // precondition read the way the query reads it: through the
      // session's Hadoop FileSystem for file:
      val fs = new org.apache.hadoop.fs.Path(srcDir.toUri)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      logged.foreach { case (name, ts) =>
        val f = srcDir.resolve(name)
        assert(Files.exists(f), s"logged source file $name not in the fixture's src/")
        Files.setLastModifiedTime(f, FileTime.fromMillis(ts))
        val mtime = fs.getFileStatus(new org.apache.hadoop.fs.Path(f.toUri)).getModificationTime
        assert(mtime == ts, s"recreated $name has mtime $mtime, the checkpoint logged $ts")
      }
      copyTree(fixture.resolve("ckpt"), ckpt)

      // batch 1 arrives while the query was down
      Seq(("a", 10L), ("c", 7L)).toDF("k", "v")
        .coalesce(1).write.mode("append").parquet(SrcDir)

      val counts = spark.readStream
        .schema("k STRING, v LONG").parquet(SrcDir)
        .groupBy($"k").count()
      val emitted = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val byBatch = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
      val q = counts.writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.collect().foreach { r =>
            emitted.put(r.getString(0), r.getLong(1))
            byBatch.add((batchId, r.getString(0), r.getLong(1)))
          }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()

      // the restarted run has exactly one batch of input, batch 1; rows
      // from any later batch mean a committed file was read again
      val others = byBatch.asScala.toSeq.filter(_._1 != 1L)
      assert(others.isEmpty, "restarted run emitted rows outside batch 1: " +
        others.groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (b, rs) => s"batch $b -> ${rs.map(r => s"${r._2}=${r._3}").mkString(", ")}" }
          .mkString("; "))

      val rows = emitted.asScala.toMap
      // a = 2 (from recovered state) + 1 new row — proves the committed
      // deltas were loaded, not recomputed from a replay
      assert(rows.get("a").contains(3L), s"state not recovered: $rows")
      assert(rows.get("c").contains(1L), s"new batch not processed: $rows")
      // update-mode output of the restarted run carries only keys touched
      // by batch 1; a 'b' row would mean batch 0 was reprocessed
      assert(!rows.contains("b"), s"committed batch was replayed: $rows")
    } finally Seq(srcDir, ckpt).foreach(deleteRecursively)
  }
}

object RecoverySpec {
  /** File name → modification time (epoch ms) as a file-source log
    * (`<ckpt>/sources/<n>/`) records them: each log file is a `v1`
    * header line followed by one JSON entry per file.
    */
  def loggedFileTimes(logDir: Path): Map[String, Long] = {
    val mapper = new ObjectMapper()
    val logs = Files.list(logDir)
    try logs.iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1).filter(_.trim.nonEmpty))
      .map { line =>
        val e = mapper.readTree(line)
        val name = Paths.get(new java.net.URI(e.get("path").asText)).getFileName.toString
        name -> e.get("timestamp").asLong
      }.toMap
    finally logs.close()
  }
}
