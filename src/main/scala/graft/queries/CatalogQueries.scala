package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DSv2 CATALOG PLUGIN coverage (§2.1/§2.13): a user-provided
  * `TableCatalog` + `FunctionCatalog` (`graft.sources.MemCatalog`)
  * driven entirely through SQL — namespace + table DDL, two-phase v2
  * INSERT/INSERT OVERWRITE, ALTER ADD COLUMN null-padding, and
  * catalog-resolved V2 scalar (magic-method) / aggregate functions.
  * The reference hard-wires one session catalog
  * (`sql/catalyst/.../catalog/SessionCatalog.scala`); the V2 contract
  * turns that into a plugin point, which is what every modern
  * lakehouse format attaches through.
  */
object CatalogQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Full DDL/DML lifecycle against the plugin catalog: CREATE
    // NAMESPACE/TABLE → INSERT (v2 append) → ALTER ADD COLUMN (old
    // rows null-pad) → second INSERT with the widened schema → read
    // back.  Re-runnable: the table is dropped up front.
    "q_catalog_table" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.nation_stats")
      s.sql("CREATE TABLE graft_cat.ns.nation_stats (rkey BIGINT, n_nations BIGINT)")
      s.sql("""INSERT INTO graft_cat.ns.nation_stats
              |SELECT n_regionkey, count(*) FROM nation GROUP BY n_regionkey""".stripMargin)
      s.sql("ALTER TABLE graft_cat.ns.nation_stats ADD COLUMN note STRING")
      s.sql("INSERT INTO graft_cat.ns.nation_stats VALUES (99, 0, 'sentinel')")
      s.sql("""SELECT rkey, n_nations, coalesce(note, '-') AS note
              |FROM graft_cat.ns.nation_stats ORDER BY rkey""".stripMargin)
    },

    // SQL row-level operations against the plugin catalog, the
    // group-based (copy-on-write) DSv2 path every lakehouse format
    // implements: UPDATE rewrites the one-group table through
    // RewriteUpdateTable → ReplaceData, DELETE through
    // RewriteDeleteFromTable.  Predicates are key-modular so the gate
    // is corpus-independent.
    "q_update_delete" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.cust_counts")
      s.sql("""CREATE TABLE graft_cat.ns.cust_counts
              |  (nkey BIGINT, n_cust BIGINT, flag STRING)""".stripMargin)
      s.sql("""INSERT INTO graft_cat.ns.cust_counts
              |SELECT c_nationkey, count(*), 'keep'
              |FROM customer GROUP BY c_nationkey""".stripMargin)
      s.sql("""UPDATE graft_cat.ns.cust_counts
              |SET flag = 'big', n_cust = n_cust * 2
              |WHERE nkey % 3 = 0""".stripMargin)
      s.sql("DELETE FROM graft_cat.ns.cust_counts WHERE nkey % 5 = 4")
      s.sql("""SELECT nkey, n_cust, flag
              |FROM graft_cat.ns.cust_counts ORDER BY nkey""".stripMargin)
    },

    // MERGE INTO (update + insert arms) on the v2 catalog: matched
    // target rows accumulate the source count, unmatched source rows
    // insert, unmatched target rows survive untouched — the DuckDB
    // twin states the same post-state as a FULL JOIN.
    "q_merge_into" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.region_counts")
      s.sql("CREATE TABLE graft_cat.ns.region_counts (rkey BIGINT, n BIGINT)")
      s.sql("""INSERT INTO graft_cat.ns.region_counts
              |SELECT n_regionkey, count(*) FROM nation GROUP BY n_regionkey""".stripMargin)
      s.sql("""MERGE INTO graft_cat.ns.region_counts t
              |USING (
              |  SELECT n_regionkey AS rkey, count(*) AS ns
              |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |  GROUP BY n_regionkey
              |  UNION ALL SELECT 99, 7
              |) s
              |ON t.rkey = s.rkey
              |WHEN MATCHED THEN UPDATE SET n = t.n + s.ns
              |WHEN NOT MATCHED THEN INSERT (rkey, n) VALUES (s.rkey, s.ns)""".stripMargin)
      s.sql("""SELECT rkey, n FROM graft_cat.ns.region_counts
              |ORDER BY rkey""".stripMargin)
    },

    // MERGE delete + not-matched-by-source arms: matched rows DELETE,
    // target rows absent from the source UPDATE in place — the two
    // arms Spark 4 adds over classic upsert MERGE.
    "q_merge_delete" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.nation_sizes")
      s.sql("CREATE TABLE graft_cat.ns.nation_sizes (nkey BIGINT, n BIGINT)")
      s.sql("""INSERT INTO graft_cat.ns.nation_sizes
              |SELECT s_nationkey, count(*) FROM supplier GROUP BY s_nationkey""".stripMargin)
      s.sql("""MERGE INTO graft_cat.ns.nation_sizes t
              |USING (SELECT n_nationkey AS nkey FROM nation
              |       WHERE n_nationkey % 2 = 0) s
              |ON t.nkey = s.nkey
              |WHEN MATCHED THEN DELETE
              |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n = t.n + 1""".stripMargin)
      s.sql("""SELECT nkey, n FROM graft_cat.ns.nation_sizes
              |ORDER BY nkey""".stripMargin)
    },

    // TIME TRAVEL on the plugin catalog: every committed mutation
    // retains a snapshot, and `VERSION AS OF v` serves that commit's
    // frozen rows — v1 = the initial insert, v2 = after UPDATE, the
    // bare read = after DELETE.  The DuckDB twin replays the same
    // mutation algebra over the base tables.  DROP up front resets the
    // version counter, so the gate is re-runnable.
    "q_time_travel" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.prio_counts")
      s.sql("CREATE TABLE graft_cat.ns.prio_counts (pr STRING, n BIGINT)")
      s.sql("""INSERT INTO graft_cat.ns.prio_counts
              |SELECT o_orderpriority, count(*) FROM orders
              |GROUP BY o_orderpriority""".stripMargin)
      s.sql("""UPDATE graft_cat.ns.prio_counts SET n = n * 2
              |WHERE pr LIKE '1%' OR pr LIKE '3%'""".stripMargin)
      s.sql("DELETE FROM graft_cat.ns.prio_counts WHERE pr LIKE '2%'")
      s.sql("""SELECT 'v1' AS snap, pr, n
              |FROM graft_cat.ns.prio_counts VERSION AS OF 1
              |UNION ALL
              |SELECT 'v2', pr, n FROM graft_cat.ns.prio_counts VERSION AS OF 2
              |UNION ALL
              |SELECT 'cur', pr, n FROM graft_cat.ns.prio_counts
              |ORDER BY snap, pr""".stripMargin)
    },

    // Stored procedures (`CALL`) on the plugin catalog — the V2
    // maintenance surface: dedupe_rows rewrites away exact-duplicate
    // rows (committing a new snapshot), expire_snapshots drops all but
    // the newest `keep` versions, snapshots lists what remains.  The
    // gate folds the CALL results and the post-rewrite table state
    // into one frame; every number is exactly derivable from the
    // distinct-brand count D (before = 2D+1 rows, dedupe removes D,
    // expiry keeps versions 1/2 of the 0/1/2 history).
    // PINNED DEPENDENCY: the 'exp'/'hist' expectations assume
    // (a) `part` is non-empty (so dedupe actually removes rows) and
    // (b) dedupe_rows commits a snapshot IFF it changed the table
    // (MemCatProcedure skips the commit when removed == 0).  If
    // dedupe_rows ever commits unconditionally, or the gate input
    // goes empty, the version numbering {0,1,2} shifts and this
    // oracle must be re-derived from a pre-expiry snapshots() CALL.
    "q_call_procedure" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
      s.sql("DROP TABLE IF EXISTS graft_cat.ns.brand_counts")
      s.sql("CREATE TABLE graft_cat.ns.brand_counts (b STRING, n BIGINT)")
      s.sql("""INSERT INTO graft_cat.ns.brand_counts
              |SELECT p_brand, count(*) FROM part GROUP BY p_brand
              |UNION ALL SELECT p_brand, count(*) FROM part GROUP BY p_brand
              |UNION ALL SELECT 'unique-row', -1""".stripMargin)
      s.sql("CALL graft_cat.ns.dedupe_rows('ns', 'brand_counts')")
        .createOrReplaceTempView("dedupe_result")
      s.sql("CALL graft_cat.ns.expire_snapshots('ns', 'brand_counts', 2)")
        .createOrReplaceTempView("expire_result")
      s.sql("CALL graft_cat.ns.snapshots('ns', 'brand_counts')")
        .createOrReplaceTempView("snap_result")
      s.sql("""SELECT 'post' AS src, b, n FROM graft_cat.ns.brand_counts
              |UNION ALL
              |SELECT 'call', CAST(removed AS STRING), remaining FROM dedupe_result
              |UNION ALL
              |SELECT 'exp', CAST(expired AS STRING), retained FROM expire_result
              |UNION ALL
              |SELECT 'hist', CAST(version AS STRING), n_rows FROM snap_result
              |ORDER BY src, b, n""".stripMargin)
    },

    // Catalog-resolved V2 functions over real data: gcd is a
    // ScalarFunction bound through the magic-method (primitive
    // invoke) fast path; sumsq is a V2 AggregateFunction running the
    // standard partial/merge protocol.  DuckDB recomputes both from
    // its built-ins.
    "q_catalog_function" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
      s.sql("""SELECT l_linenumber AS ln, count(*) AS n,
              |  CAST(sum(graft_cat.ns.gcd(l_orderkey, l_partkey)) AS BIGINT) AS sum_gcd,
              |  graft_cat.ns.sumsq(l_linenumber) AS sumsq_ln
              |FROM lineitem
              |GROUP BY l_linenumber ORDER BY ln""".stripMargin)
    })

  val oracle: Map[String, String] = Map(
    "q_catalog_table" ->
      """SELECT rkey, n_nations, note FROM (
        |  SELECT n_regionkey AS rkey, CAST(count(*) AS BIGINT) AS n_nations,
        |    '-' AS note
        |  FROM nation GROUP BY n_regionkey
        |  UNION ALL SELECT 99, 0, 'sentinel')
        |ORDER BY rkey""".stripMargin,
    "q_update_delete" ->
      """SELECT CAST(nkey AS BIGINT) AS nkey,
        |  CAST(CASE WHEN nkey % 3 = 0 THEN n * 2 ELSE n END AS BIGINT) AS n_cust,
        |  CASE WHEN nkey % 3 = 0 THEN 'big' ELSE 'keep' END AS flag
        |FROM (SELECT c_nationkey AS nkey, count(*) AS n
        |      FROM customer GROUP BY c_nationkey)
        |WHERE nkey % 5 <> 4
        |ORDER BY nkey""".stripMargin,
    "q_merge_into" ->
      """WITH tgt AS (SELECT n_regionkey AS rkey, count(*) AS n
        |             FROM nation GROUP BY n_regionkey),
        |src AS (SELECT n_regionkey AS rkey, count(*) AS ns
        |        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |        GROUP BY n_regionkey
        |        UNION ALL SELECT 99, 7)
        |SELECT CAST(coalesce(t.rkey, s.rkey) AS BIGINT) AS rkey,
        |  CAST(coalesce(t.n, 0) + coalesce(s.ns, 0) AS BIGINT) AS n
        |FROM tgt t FULL JOIN src s ON t.rkey = s.rkey
        |ORDER BY rkey""".stripMargin,
    "q_merge_delete" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nkey,
        |  CAST(count(*) + 1 AS BIGINT) AS n
        |FROM supplier
        |WHERE s_nationkey % 2 = 1
        |GROUP BY s_nationkey
        |ORDER BY nkey""".stripMargin,
    "q_time_travel" ->
      """WITH v1 AS (SELECT o_orderpriority AS pr, CAST(count(*) AS BIGINT) AS n
        |            FROM orders GROUP BY o_orderpriority),
        |v2 AS (SELECT pr,
        |         CAST(CASE WHEN pr LIKE '1%' OR pr LIKE '3%' THEN n * 2 ELSE n END
        |           AS BIGINT) AS n
        |       FROM v1),
        |cur AS (SELECT pr, n FROM v2 WHERE pr NOT LIKE '2%')
        |SELECT 'v1' AS snap, pr, n FROM v1
        |UNION ALL SELECT 'v2', pr, n FROM v2
        |UNION ALL SELECT 'cur', pr, n FROM cur
        |ORDER BY snap, pr""".stripMargin,
    "q_call_procedure" ->
      """WITH d AS (SELECT p_brand AS b, CAST(count(*) AS BIGINT) AS n
        |           FROM part GROUP BY p_brand),
        |dc AS (SELECT CAST(count(*) AS BIGINT) AS c FROM d)
        |SELECT 'post' AS src, b, n FROM
        |  (SELECT b, n FROM d UNION ALL SELECT 'unique-row', CAST(-1 AS BIGINT))
        |UNION ALL
        |SELECT 'call', CAST(c AS VARCHAR), c + 1 FROM dc
        |UNION ALL SELECT 'exp', '1', CAST(2 AS BIGINT)
        |UNION ALL SELECT 'hist', '1', 2 * c + 1 FROM dc
        |UNION ALL SELECT 'hist', '2', c + 1 FROM dc
        |ORDER BY src, b, n""".stripMargin,
    "q_catalog_function" ->
      """SELECT l_linenumber AS ln, count(*) AS n,
        |  CAST(sum(gcd(l_orderkey, l_partkey)) AS BIGINT) AS sum_gcd,
        |  CAST(sum(l_linenumber * l_linenumber) AS BIGINT) AS sumsq_ln
        |FROM lineitem
        |GROUP BY l_linenumber ORDER BY ln""".stripMargin)
}
