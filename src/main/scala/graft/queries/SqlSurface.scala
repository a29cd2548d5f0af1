package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Remaining SQL-surface coverage: CTEs (§3.1 Substitution batch),
  * explicit GROUPING SETS (§2.4), the stack generator (§2.9,
  * `generators.scala:137`), the range table-valued function (§2.1
  * `RangeExec`), and LATERAL VIEW explode (Hive-style generator
  * syntax).  Shared ANSI text runs in both engines where possible;
  * Spark-specific syntax gets a DuckDB translation.
  */
object SqlSurface {
  type Q = (SparkSession, String) => DataFrame

  private def sql(q: String): Q = { (s, dir) =>
    graft.Tables.registerAll(s, dir)
    s.sql(q)
  }

  val queries: Map[String, Q] = Map(
    // Chained CTEs with reuse.
    "q_cte" -> sql(
      """WITH big_orders AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_totalprice > 200000),
        |cust_stats AS (
        |  SELECT o_custkey, count(*) AS n_big,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM big_orders GROUP BY o_custkey)
        |SELECT n_big, count(*) AS n_cust,
        |  CAST(round(CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE), 2) AS DOUBLE) AS grand
        |FROM cust_stats GROUP BY n_big ORDER BY n_big""".stripMargin),

    // Explicit GROUPING SETS with grouping identification.
    "q_grouping_sets" -> sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, g_rf, g_ls""".stripMargin),

    // stack generator: unpivot columns to rows.
    "q_stack_unpivot" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, metric, val FROM (
          |  SELECT c_custkey,
          |    stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, val)
          |  FROM customer WHERE c_custkey <= 50)
          |ORDER BY c_custkey, metric""".stripMargin)
    },

    // range() table-valued function joined to data.
    "q_range_tvf" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT r.id AS bucket, count(n_nationkey) AS n
          |FROM range(0, 5) r LEFT JOIN nation ON n_regionkey = r.id
          |GROUP BY r.id ORDER BY r.id""".stripMargin)
    },

    // Custom DataSource V2 TableProvider (§2.1): a deterministic
    // generated table read through the full DSv2 scan path
    // (TableProvider → ScanBuilder → Batch → partition readers).
    "q_dsv2_source" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SquaresV2")
        .option("n", 1000).option("slices", 8).load()
        .filter(col("id") % 7 === 0)
        .groupBy(col("tag"))
        .agg(count(lit(1)).as("n"), sum(col("sq")).as("sum_sq"))
        .orderBy(col("tag"))
    },

    // DSv2 METADATA COLUMN (§2.1): the hidden `_slice` provenance
    // column (SupportsMetadataColumns) resolves when referenced by
    // name; with n=40 over 4 slices the slice ordinal is exactly
    // id div 10 — closed-form in DuckDB.
    "q_dsv2_meta" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SquaresV2")
        .option("n", 40).option("slices", 4).load()
        .select(col("id"), col("sq"), col("_slice"))
        .orderBy(col("id"))
    },

    // DSv2 AGGREGATE PUSHDOWN (§2.1): the source answers the GROUP BY
    // from closed-form statistics — the executed plan has NO Aggregate
    // node (asserted in GroupStatsV2Spec); DuckDB recomputes the same
    // stats from the raw generated relation.
    "q_dsv2_agg_pushdown" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.GroupStatsV2")
        .option("n", 801).option("groups", 8).load()
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"), min(col("v")).as("min_v"),
          max(col("v")).as("max_v"), sum(col("v")).as("sum_v"))
        .orderBy(col("grp"))
    },

    // DSv2 TOP-N PUSHDOWN (§2.6): ORDER BY id DESC LIMIT k absorbed
    // into the generator bounds — 5 rows of source work against a
    // nominal 10^9-row table, no Sort/Limit node in the plan (asserted
    // in SourcesSpec); DuckDB recomputes the top-N from the raw 2M-row
    // filtered range.
    "q_dsv2_topn" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      s.read.format("graft.sources.SquaresV2")
        .option("n", 1000000000L).option("slices", 8).load()
        .filter(col("id") >= 100 && col("id") < 2000000)
        .orderBy(col("id").desc).limit(5)
        .select(col("id"), col("sq"), col("tag"))
    },

    // DSv2 RUNTIME FILTERING (§2.3): dynamic partition pruning through
    // SupportsRuntimeFiltering — the dim side's observed join keys
    // reach the v2 scan at execution time and whole fact partitions
    // are skipped (3 of 64 planned, asserted in PartKvV2Spec).  The
    // dim is range-based because a LocalRelation filter constant-folds
    // away and DPP then never fires.
    "q_dsv2_runtime_filter" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val fact = s.read.format("graft.sources.PartKvV2")
        .option("parts", 64).option("rowsPer", 1000).load()
      val dim = s.range(0, 64).select(col("id").as("k"))
        .filter(col("k") % 29 === 3)
      fact.join(broadcast(dim), col("part") === col("k"))
        .groupBy("part")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
        .orderBy("part")
    },

    // STORAGE-PARTITIONED JOIN (§2.3): two co-partitioned DSv2 scans
    // (KeyGroupedPartitioning on identity(k)) join with zero Exchange
    // nodes (asserted in BucketedKvV2Spec).  Spark 4 enables
    // `spark.sql.sources.v2.bucketing.enabled` by default, so the gate
    // sets no conf.
    "q_spj_join" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      def t(rowsPer: Int, mult: Int) =
        s.read.format("graft.sources.BucketedKvV2")
          .option("parts", 8).option("rowsPer", rowsPer).option("mult", mult).load()
      val a = t(50, 3).as("a")
      val b = t(30, 7).as("b")
      a.join(b, "k").groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a.v") + col("b.v")).as("sum_vv"))
        .orderBy("k")
    },

    // inline generator: explode an array of structs into columns
    // (reference `generators.scala:400`).
    "q_inline" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT n_regionkey, tag, key2 FROM (
          |  SELECT n_regionkey, inline(array(
          |    named_struct('tag', n_name, 'key2', n_nationkey),
          |    named_struct('tag', upper(n_name), 'key2', n_nationkey + 100)))
          |  FROM nation)
          |ORDER BY n_regionkey, key2""".stripMargin)
    },

    // json_tuple generator (reference `jsonExpressions.scala:345`).
    "q_json_tuple" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT event_id, j.k AS k_str
          |FROM events LATERAL VIEW json_tuple(props, 'k') j AS k
          |WHERE event_id <= 200 ORDER BY event_id""".stripMargin)
    },

    // Script transform (reference `ScriptTransformationExec.scala:55`):
    // rows piped through an external process (no-serde mode, no Hive
    // needed).  'cat' echoes the tab-separated rows back; the oracle is
    // the identity projection — proving the pipe round-trips exactly.
    "q_script_transform" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT CAST(k AS BIGINT) AS n_nationkey, name
          |FROM (
          |  SELECT TRANSFORM (n_nationkey, n_name)
          |    USING 'cat'
          |    AS (k STRING, name STRING)
          |  FROM nation)
          |ORDER BY n_nationkey""".stripMargin)
    },

    // LATERAL VIEW explode (Hive-compat generator syntax).
    "q_lateral_view" -> { (s, dir) =>
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT word, count(*) AS n
          |FROM documents LATERAL VIEW explode(split(text, ' ')) t AS word
          |WHERE doc_id < 30 AND word != ''
          |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)
    })

  val oracle: Map[String, String] = Map(
    "q_cte" ->
      """WITH big_orders AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_totalprice > 200000),
        |cust_stats AS (
        |  SELECT o_custkey, count(*) AS n_big,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |  FROM big_orders GROUP BY o_custkey)
        |SELECT n_big, count(*) AS n_cust,
        |  CAST(round(CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE), 2) AS DOUBLE) AS grand
        |FROM cust_stats GROUP BY n_big ORDER BY n_big""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(grouping(l_returnflag) AS INT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, g_rf, g_ls""".stripMargin,
    "q_stack_unpivot" ->
      """SELECT c_custkey, metric, val FROM (
        |  SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val
        |  FROM customer WHERE c_custkey <= 50
        |  UNION ALL
        |  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE)
        |  FROM customer WHERE c_custkey <= 50)
        |ORDER BY c_custkey, metric""".stripMargin,
    "q_range_tvf" ->
      """SELECT r.range AS bucket, count(n_nationkey) AS n
        |FROM range(0, 5) r LEFT JOIN nation ON n_regionkey = r.range
        |GROUP BY r.range ORDER BY r.range""".stripMargin,
    "q_dsv2_source" ->
      """SELECT CASE WHEN i % 2 = 0 THEN 'even' ELSE 'odd' END AS tag,
        |  count(*) AS n, CAST(sum(i * i) AS BIGINT) AS sum_sq
        |FROM (SELECT unnest(generate_series(0, 999)) AS i)
        |WHERE i % 7 = 0 GROUP BY 1 ORDER BY tag""".stripMargin,
    "q_dsv2_meta" ->
      """SELECT i AS id, i * i AS sq, i // 10 AS _slice
        |FROM (SELECT unnest(generate_series(0, 39)) AS i)
        |ORDER BY id""".stripMargin,
    "q_dsv2_agg_pushdown" ->
      """SELECT 'g' || (i % 8) AS grp, count(*) AS n_rows,
        |  CAST(min(i) AS BIGINT) AS min_v, CAST(max(i) AS BIGINT) AS max_v,
        |  CAST(sum(i) AS BIGINT) AS sum_v
        |FROM (SELECT unnest(generate_series(0, 800)) AS i)
        |GROUP BY 1 ORDER BY grp""".stripMargin,
    "q_dsv2_topn" ->
      """SELECT i AS id, i * i AS sq,
        |  CASE WHEN i % 2 = 0 THEN 'even' ELSE 'odd' END AS tag
        |FROM (SELECT unnest(generate_series(100, 1999999)) AS i)
        |ORDER BY id DESC LIMIT 5""".stripMargin,
    "q_dsv2_runtime_filter" ->
      """WITH fact AS (
        |  SELECT p AS part, p * 1000 + i AS v
        |  FROM (SELECT unnest(generate_series(0, 63)) AS p)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 999)) AS i)),
        |dim AS (SELECT k FROM (SELECT unnest(generate_series(0, 63)) AS k)
        |        WHERE k % 29 = 3)
        |SELECT part, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM fact JOIN dim ON part = k
        |GROUP BY part ORDER BY part""".stripMargin,
    "q_spj_join" ->
      """WITH ks AS (SELECT unnest(generate_series(0, 7)) AS k),
        |a AS (SELECT k, 3 * i + k AS v
        |      FROM ks CROSS JOIN (SELECT unnest(generate_series(0, 49)) AS i)),
        |b AS (SELECT k, 7 * j + k AS v
        |      FROM ks CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS j))
        |SELECT k, count(*) AS n_pairs,
        |  CAST(sum(a.v + b.v) AS BIGINT) AS sum_vv
        |FROM a JOIN b USING (k) GROUP BY k ORDER BY k""".stripMargin,
    "q_inline" ->
      """SELECT n_regionkey, tag, key2 FROM (
        |  SELECT n_regionkey, n_name AS tag, n_nationkey AS key2 FROM nation
        |  UNION ALL
        |  SELECT n_regionkey, upper(n_name), n_nationkey + 100 FROM nation)
        |ORDER BY n_regionkey, key2""".stripMargin,
    "q_json_tuple" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str
        |FROM events WHERE event_id <= 200 ORDER BY event_id""".stripMargin,
    "q_script_transform" ->
      """SELECT n_nationkey, n_name AS name FROM nation ORDER BY n_nationkey""",
    "q_lateral_view" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE doc_id < 30 AND word <> ''
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)
}
