package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths => JPaths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkSpec, TmpCleanup}

/** The session's `file:` binding (GraftSession.withHive): both Hadoop
  * APIs resolve to the NIO-backed classes, which set and report what
  * the stock local filesystem does, keep checksums through a rename,
  * and write checkpoints, parquet and Hive tables without forking.
  */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")
  private def hpath(p: JPath) = new Path(p.toUri)
  private def fresh(): JPath = JPaths.get(TmpCleanup.tempDir("graft_lfs"))
  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, new Configuration)
    fs
  }

  test("a withHive session resolves file: to the NIO classes through both APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(FileContext.getFileContext(root, conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("permissions, owner and group read back as stock RawLocalFileSystem sets them") {
    val dir = fresh()
    val stock = raw(new RawLocalFileSystem)
    val nio = raw(new NioRawLocalFileSystem)
    for (mode <- Seq("644", "755", "700")) {
      val perm = new FsPermission(Integer.parseInt(mode, 8).toShort)
      val a = Files.createFile(dir.resolve(s"stock_$mode"))
      val b = Files.createFile(dir.resolve(s"nio_$mode"))
      stock.setPermission(hpath(a), perm)
      nio.setPermission(hpath(b), perm)
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), mode)
      val (sa, sb) = (stock.getFileStatus(hpath(a)), nio.getFileStatus(hpath(b)))
      assert(sb.getPermission == perm && sa.getPermission == perm, mode)
      assert((sb.getOwner, sb.getGroup) == ((sa.getOwner, sa.getGroup)), mode)
      assert(nio.listStatus(hpath(b)).map(_.getPermission).toSeq == Seq(perm), mode)
    }
    val d = Files.createDirectory(dir.resolve("sticky"))
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    nio.setPermission(hpath(d), sticky)
    assert((Files.getAttribute(d, "unix:mode").asInstanceOf[Int] & 0x3ff) == 0x3ff)
    assert(nio.getFileStatus(hpath(d)).getPermission == sticky)
    assert(stock.getFileStatus(hpath(d)).getPermission == sticky)
  }

  test("a missing path, or one below a plain file, is FileNotFound as in stock") {
    val dir = fresh()
    val file = Files.createFile(dir.resolve("f"))
    for (fs <- Seq(raw(new RawLocalFileSystem), raw(new NioRawLocalFileSystem));
         p <- Seq(dir.resolve("missing"), file.resolve("child"))) {
      intercept[java.io.FileNotFoundException](fs.getFileStatus(hpath(p)))
    }
  }

  test("a symlink reports isSymlink; a plain file does not") {
    val dir = fresh()
    val target = Files.write(dir.resolve("target"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, conf)
    val fc = FileContext.getFileContext(root, conf)
    // scheme-less paths: the stock link branch reads `Path.toString`
    // as a file name, so a `file:` prefix hides the link from it
    val (l, t) = (new Path(link.toString), new Path(target.toString))
    assert(fs.getFileLinkStatus(l).isSymlink)
    assert(fc.getFileLinkStatus(l).isSymlink)
    assert(fc.getFileLinkStatus(l).getSymlink.toUri.getPath == target.toString)
    assert(!fs.getFileLinkStatus(t).isSymlink)
    assert(!fc.getFileLinkStatus(t).isSymlink)
  }

  test("a FileContext rename with OVERWRITE replaces the target and its .crc") {
    val dir = fresh()
    val fc = FileContext.getFileContext(root, spark.sessionState.newHadoopConf())
    def write(name: String, text: String): Path = {
      val p = hpath(dir.resolve(name))
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(text.getBytes(UTF_8)) finally out.close()
      p
    }
    val src = write("src", "the new contents")
    val dst = write("dst", "old")
    assert(Files.exists(dir.resolve(".dst.crc")))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!Files.exists(dir.resolve("src")) && !Files.exists(dir.resolve(".src.crc")))
    assert(Files.exists(dir.resolve(".dst.crc")))
    // the read verifies the bytes against the moved .crc
    val in = fc.open(dst)
    val back = try new String(in.readAllBytes(), UTF_8) finally in.close()
    assert(back == "the new contents")
  }

  test("checkpoints, parquet and Hive writes start no Hadoop shell process") {
    val dir = fresh()
    // warm every path once so class loading and one-time set-up stay
    // outside the recording
    def work(i: Int): Unit = {
      SparkEntry.queries("q_stream_dedup")(spark, sf).collect()
      spark.range(100).withColumn("v", col("id") * 2)
        .write.mode("overwrite").parquet(dir.resolve(s"pq_$i").toString)
      spark.sql(s"DROP TABLE IF EXISTS lfs_ctas_$i")
      spark.sql(s"CREATE TABLE lfs_ctas_$i STORED AS PARQUET AS SELECT id, id * 3 AS v FROM range(50)")
      assert(spark.table(s"lfs_ctas_$i").count() == 50)
      spark.sql(s"DROP TABLE lfs_ctas_$i")
    }
    work(0)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try work(1) finally rec.stop()
    val jfr = dir.resolve("process.jfr")
    rec.dump(jfr)
    rec.close()
    val forks = RecordingFile.readAllEvents(jfr).asScala.filter { e =>
      e.getStackTrace != null && e.getStackTrace.getFrames.asScala
        .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell")
    }.map(_.getString("command"))
    assert(forks.size == 0, forks.take(5).mkString("; "))
  }

  test("Hive's downloaded-resources dir lives in the session's scratch") {
    spark.sql("SHOW DATABASES").collect() // starts the Hive client
    val base = new Path(spark.conf.get("spark.sql.warehouse.dir")).getParent.toUri.getPath
    val dirs = Files.list(java.nio.file.Paths.get(base)).iterator.asScala.toSeq
    assert(dirs.exists(_.getFileName.toString.endsWith("_resources")), dirs.mkString(", "))
  }
}
