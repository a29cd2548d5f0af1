package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** Session plumbing shared by the runtime mains (Verify/Bench) and the
  * test harness: Hive catalog support over an embedded, per-process
  * Derby metastore.
  *
  * The reference engine is a Hive-era deployment — its users scan and
  * write metastore tables (reference `sql/hive/src/main/scala/org/
  * apache/spark/sql/hive/execution/HiveTableScanExec.scala:53`,
  * `InsertIntoHiveTable.scala:66`) and its lineage layer captures the
  * catalog table as a source (`ResolveHiveRelation.scala:18`).  An
  * embedded metastore gives the same catalog surface with no external
  * service: Derby runs in-process (one embedded Derby engine can host
  * many databases, so this coexists with the JDBC gate's Derby db),
  * and a fresh per-process directory keeps concurrent JVMs (sbt test
  * vs a Bench run) from fighting over Derby's single-owner lock.
  *
  * The session also rebinds the `file:` scheme, for both Hadoop APIs
  * (`FileSystem` and `FileContext`), to [[graft.sources.NioLocalFileSystem]]
  * and [[graft.sources.NioLocalFs]].  Without libhadoop the stock local
  * filesystem forks `chmod` for every file and dir it creates and
  * `readlink` twice for every FileContext rename — the streaming
  * offset/commit logs and state-store files, parquet part files, the
  * committer and the Hive warehouse all pay that per file.  The graft
  * classes do the same through `java.nio.file`; what is kept is
  * everything else: `.crc` checksum files (both Hadoop's and Spark's
  * checkpoint checksums), the atomic rename, and the permissions with
  * the umask applied.  `FileSystem` instances are cached JVM-wide by
  * scheme and user, not by configuration, so the binding only takes
  * when it is in the conf before the first `file:` lookup — that is,
  * set on the session builder, as here, never later through
  * `spark.conf` or `hadoopConfiguration`.
  */
object GraftSession {

  /** Add Hive support backed by a per-process temp metastore +
    * warehouse to a session builder.
    */
  def withHive(b: SparkSession.Builder): SparkSession.Builder = {
    // Metastore and warehouse live in SESSION-scoped scratch (JVM temp
    // dir by default; relocated only by an explicit SPARK_GRAFT_TMPDIR
    // — see TmpCleanup.scratchBase for why tmpfs is never the default).
    // spark.local.dir (shuffle/spill) is left at Spark's own default
    // unless the operator relocated scratch explicitly; an explicit
    // SPARK_LOCAL_DIRS always wins, matching Spark's precedence.
    val base = TmpCleanup.sessionDir("graft_hive_")
    val withLocal =
      if (sys.env.contains("SPARK_LOCAL_DIRS") ||
        TmpCleanup.scratchBase.isEmpty) b
      else b.config("spark.local.dir", TmpCleanup.sessionDir("graft_local_"))
    withLocal.config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$base/metastore;create=true")
      // Hive's default is ${java.io.tmpdir}/${hive.session.id}_resources,
      // which nothing deletes; under `base` the shutdown hook does
      .config("spark.hadoop.hive.downloaded.resources.dir",
        s"$base/$${hive.session.id}_resources")
      // `file:` without the per-file chmod/readlink forks, for both
      // Hadoop APIs (see the object doc)
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      // the library's whole extension surface (optimizer rule, planner
      // strategy, SQL function names) rides one config line
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .enableHiveSupport()
  }
}
