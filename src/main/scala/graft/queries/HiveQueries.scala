package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.lineage.ColumnLineage

/** Hive-catalog surface through the driver contract: metastore table
  * round-trip (CTAS + INSERT + scan — reference `sql/hive/.../execution/
  * HiveTableScanExec.scala:53`, `InsertIntoHiveTable.scala:66`), the
  * Hive UDF/UDAF/UDTF bridge (`hiveUDFs.scala:43,124,307`), serde-mode
  * script transform (`ScriptTransformationExec.scala:55`), and lineage
  * capturing the catalog table as a source (`ResolveHiveRelation.scala:
  * 18`).  All sessions created by Verify/Bench/SparkSpec carry an
  * embedded Derby metastore (see [[graft.GraftSession]]); every entry
  * recreates its own objects so ordering and reruns don't matter.
  */
object HiveQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Metastore round-trip: CTAS half the rows through the catalog,
    // INSERT the other half, scan + aggregate the stored table.
    "q_hive_roundtrip" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_hive_nation")
      s.sql("""CREATE TABLE graft_hive_nation STORED AS PARQUET AS
              |SELECT n_nationkey, n_name, n_regionkey FROM nation
              |WHERE n_nationkey % 2 = 0""".stripMargin)
      s.sql("""INSERT INTO graft_hive_nation
              |SELECT n_nationkey, n_name, n_regionkey FROM nation
              |WHERE n_nationkey % 2 = 1""".stripMargin)
      s.sql("""SELECT n_regionkey, count(*) AS n_nations,
              |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
              |  min(n_name) AS first_name
              |FROM graft_hive_nation
              |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    },

    // Column lineage through the metastore: the source of a column
    // computed over a catalog table is the CATALOG TABLE NAME, not a
    // file path (reference ResolveHiveRelation.scala:18 captures
    // `catalogTable` for exactly this).
    "q_hive_lineage" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_hive_lin")
      s.sql("""CREATE TABLE graft_hive_lin STORED AS PARQUET AS
              |SELECT n_nationkey, n_regionkey FROM nation""".stripMargin)
      val q = s.table("graft_hive_lin")
        .groupBy(col("n_regionkey"))
        .agg(sum(col("n_nationkey")).as("key_sum"))
      ColumnLineage.of(q).toDF(s)
        .orderBy(col("out_column"), col("src_table"), col("src_column"))
    },

    // Partitioned metastore table: DYNAMIC partition insert (each
    // n_regionkey value becomes a partition directory), then a
    // single-partition read whose filter prunes at the metastore level
    // — the Hive-era layout for everything date/region-sharded at
    // scale (reference `InsertIntoHiveTable.scala:66` dynamic-partition
    // path).  Pruning is plan-asserted in `SourcesSpec`.
    "q_hive_partitioned" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      GraftSession.withConf(s, "hive.exec.dynamic.partition.mode" -> "nonstrict") {
        s.sql("DROP TABLE IF EXISTS graft_hive_part")
        s.sql("""CREATE TABLE graft_hive_part (n_nationkey INT, n_name STRING)
                |PARTITIONED BY (n_regionkey INT) STORED AS PARQUET""".stripMargin)
        s.sql("""INSERT INTO graft_hive_part PARTITION (n_regionkey)
                |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin)
        s.sql("""SELECT n_regionkey, count(*) AS n_nations,
                |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
                |FROM graft_hive_part WHERE n_regionkey IN (1, 3)
                |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      }
    },

    // Hive UDF bridge, both dispatch flavors: old-style reflection UDF
    // (HiveSimpleUDF) + ObjectInspector GenericUDF (HiveGenericUDF).
    "q_hive_udf" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_square AS 'graft.hive.GraftHiveSquare'")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_reverse AS 'graft.hive.GraftHiveReverse'")
      s.sql("""SELECT n_nationkey,
              |  graft_square(CAST(n_nationkey AS BIGINT)) AS sq,
              |  graft_reverse(n_name) AS rev
              |FROM nation ORDER BY n_nationkey""".stripMargin)
    },

    // Hive GenericUDAF bridge (HiveUDAFFunction): partial-aggregatable
    // sum of squares — PARTIAL1/FINAL merge both exercised under the
    // 4-partition local session.
    "q_hive_udaf" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_sumsq AS 'graft.hive.GraftHiveSumSq'")
      s.sql("""SELECT n_regionkey,
              |  graft_sumsq(CAST(n_nationkey AS BIGINT)) AS sumsq
              |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    },

    // Hive GenericUDTF bridge (HiveGenericUDTF) through LATERAL VIEW.
    "q_hive_udtf" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_split AS 'graft.hive.GraftHiveSplitWords'")
      s.sql("""SELECT doc_id, count(*) AS n_words,
              |  CAST(sum(wlen) AS BIGINT) AS len_sum
              |FROM (SELECT doc_id, text FROM documents WHERE doc_id < 20) d
              |LATERAL VIEW graft_split(text) t AS word, wlen
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    },

    // Serde-mode script transform: LazySimpleSerDe with a non-default
    // field delimiter on BOTH sides of the child process (reference
    // ScriptTransformationExec.scala:55 — serde mode, vs the no-serde
    // DELIMITED mode gated in SqlSurface).
    "q_transform_serde" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""SELECT CAST(k AS INT) AS n_nationkey, v AS n_name FROM (
              |  SELECT TRANSFORM(n_nationkey, n_name)
              |    ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
              |    WITH SERDEPROPERTIES ('field.delim'=';')
              |    USING 'cat'
              |    AS (k STRING, v STRING)
              |    ROW FORMAT SERDE 'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'
              |    WITH SERDEPROPERTIES ('field.delim'=';')
              |  FROM nation)
              |ORDER BY n_nationkey""".stripMargin)
    })

  val oracle: Map[String, String] = Map(
    "q_hive_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
        |  min(n_name) AS first_name
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q_hive_lineage" ->
      """SELECT * FROM (VALUES
        |  ('key_sum', 'graft_hive_lin', 'n_nationkey'),
        |  ('n_regionkey', 'graft_hive_lin', 'n_regionkey'))
        |  AS t(out_column, src_table, src_column)
        |ORDER BY out_column, src_table, src_column""".stripMargin,
    "q_hive_partitioned" ->
      """SELECT n_regionkey, count(*) AS n_nations,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation WHERE n_regionkey IN (1, 3)
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q_hive_udf" ->
      """SELECT n_nationkey,
        |  CAST(n_nationkey AS BIGINT) * n_nationkey AS sq,
        |  reverse(n_name) AS rev
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_hive_udaf" ->
      """SELECT n_regionkey,
        |  CAST(sum(CAST(n_nationkey AS BIGINT) * n_nationkey) AS BIGINT) AS sumsq
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    "q_hive_udtf" ->
      """SELECT doc_id, count(*) AS n_words,
        |  CAST(sum(len(w)) AS BIGINT) AS len_sum
        |FROM (SELECT doc_id,
        |        unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS w
        |      FROM documents WHERE doc_id < 20)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_transform_serde" ->
      """SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey""".stripMargin)
}
