package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{MemCatalog, NioLocalFileSystem, NioLocalFs}

/** Session plumbing shared by the runtime mains (Bench, Verify,
  * PlanAudit, PlanDump) and the test harness: one runtime session
  * shape ([[builder]]), Hive catalog support over an embedded,
  * per-process Derby metastore ([[withHive]]), and one scoped conf
  * override ([[withConf]]).
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
  *
  * The session sizes Spark's cache of compiled generated classes
  * (`spark.sql.codegen.cache.maxEntries`) to 1000 entries.  Spark's
  * default of 100 is below the working set of one pass over a few
  * heavy gates (about 185 classes for the ten gates of perfbench's
  * `curate_ingest`), so the LRU evicted what the next pass needed and
  * almost every class was compiled again on every pass.  A cached
  * class costs about 55 KB of heap plus 45 KB of metaspace, so a full
  * cache holds about 100 MB.  The cache is created once per JVM, when
  * `CodeGenerator` is first used, from the conf of the session that is
  * active at that moment; the key is a static SQL conf, so it only
  * takes on the builder, and only when this session is the first to
  * generate code in the JVM.  A caller can still override the value
  * on its own builder.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`: local cores, and shuffle partitions, of every
    * runtime main.
    */
  private lazy val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `SPARK_GRAFT_SF_DIR`: the corpus the mains without a directory
    * argument (Bench, PlanAudit, PlanDump) read.
    */
  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The runtime session shape, over [[withHive]]: `local[cpus]`, one
    * shuffle partition per core, UTC, AQE with partition coalescing,
    * no UI.  A main that needs more layers its own `config` calls on
    * the returned builder before `getOrCreate()`.
    */
  def builder(): SparkSession.Builder = withHive(SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.ui.enabled", "false"))

  /** Run `body` with the session confs `kvs` set, then put each key back
    * as it was: a key that was set explicitly before gets its old value,
    * any other key is unset.  The test is membership in
    * `spark.conf.getAll`, not `getOption` — `getOption` answers a
    * registered key's default, and writing that back would leave an
    * explicit copy of the default in the session.  Only for eager
    * work: a DataFrame returned from `body` plans later, under the
    * restored confs.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val before = spark.conf.getAll
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally kvs.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** Add Hive support backed by a per-process temp metastore +
    * warehouse to a session builder.  It also sets
    * `spark.sql.legacy.parquet.nanosAsLong`, which [[Tables.events]]
    * reads the nanosecond `ts` column under, so no load sets a conf.
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
      // the library's whole extension surface (planner strategy, SQL
      // function names) rides one config line
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // one pass's generated classes stay compiled for the next (see
      // the object doc)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // the DSv2 plugin catalog of the q_catalog_*, q_merge_into and
      // graft_cat fuzz gates: a gate that set it would leave it set,
      // since a gate returns a lazy frame that withConf cannot scope
      .config("spark.sql.catalog.graft_cat", classOf[MemCatalog].getName)
      // Tables.events reads ns timestamps as longs (see the method doc)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .enableHiveSupport()
  }
}
