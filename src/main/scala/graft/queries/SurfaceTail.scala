package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Surface-tail battery: the remaining registry families without a
  * dedicated gate — the Spark-3.4+ regexp tail (reference regex family
  * is `regexpExpressions.scala`, pre-`regexp_count`), bitwise
  * aggregates, cached-table scans (reference
  * `execution/command/cache.scala` + `InMemoryRelation`), and the
  * percent_rank window completion.
  */
object SurfaceTail {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // regexp_count / regexp_substr / regexp_extract_all — patterns kept
    // in the Java∩RE2 common subset so both engines' regex dialects
    // agree; the extract-all list is serialized (never a raw array out).
    "q_fn_regex_tail" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT p_partkey,
          |  regexp_count(p_name, '[aeiou]') AS n_vowels,
          |  regexp_substr(p_name, '[a-z]+') AS first_word,
          |  concat_ws(',', regexp_extract_all(p_name, '[a-z]+', 0)) AS words_csv
          |FROM part WHERE p_partkey <= 200
          |ORDER BY p_partkey""".stripMargin)
    },

    // bit_and / bit_or / bit_xor grouped aggregates over a bounded
    // integer domain (associative+commutative, so partial aggregation
    // is exact under any partitioning).
    "q_agg_bitwise" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT l_returnflag,
          |  bit_and(l_partkey % 256) AS band,
          |  bit_or(l_partkey % 256) AS bor,
          |  bit_xor(l_partkey % 256) AS bxor,
          |  count(*) AS n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },

    // CACHE TABLE ... AS SELECT: materializes the aggregate into the
    // columnar cache (InMemoryRelation); the gate reads THROUGH the
    // cache — values must match the uncached oracle exactly.  The
    // cached relation is per-nation pre-aggregated, the 100 TB pattern
    // for a reused dimension rollup.  Rerun-safe: the view is replaced
    // each run.
    "q_cache_table" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("UNCACHE TABLE IF EXISTS graft_cached_bal")
      s.sql("DROP VIEW IF EXISTS graft_cached_bal")
      s.sql(
        """CACHE TABLE graft_cached_bal AS
          |SELECT c_nationkey, count(*) AS n_cust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
          |FROM customer GROUP BY c_nationkey""".stripMargin)
      s.sql(
        """SELECT c_nationkey, n_cust, bal
          |FROM graft_cached_bal WHERE n_cust > 0
          |ORDER BY c_nationkey""".stripMargin)
    },

    // Dynamic partition pruning: the fact is laid out partitioned by
    // the join key, the dim side filters to one region, and the fact
    // scan prunes to the dim's surviving keys AT RUNTIME — at 100 TB
    // this is the difference between scanning 25 partitions and 5.
    // Plan-asserted in RuntimeFilterSpec; here values prove the pruned
    // scan loses nothing vs the DuckDB full-scan join.
    "q_dpp_join" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val out = graft.TmpCleanup.tempDir("graft_dpp_gate")
      Tables.load(s, dir, "customer")
        .write.mode("overwrite").partitionBy("c_nationkey").parquet(out)
      s.read.parquet(out)
        .join(Tables.load(s, dir, "nation")
          .filter(col("n_regionkey") === 2), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(12,2)")).cast("double").as("bal"))
        .orderBy(col("n_name"))
    },

    // Runtime bloom-filter join: the selective dim side builds a bloom
    // filter that pre-filters the fact BEFORE its shuffle (reference-era
    // engines shuffle the full fact).  Production thresholds (10 MB /
    // 10 GB) are lowered so gate-scale data takes the same plan the
    // 100 TB join would; confs restored either way.
    "q_runtime_bloom" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      GraftSession.withConf(s,
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "part").filter(col("p_size") === 1),
            col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
          .orderBy(col("p_brand"))
        // materialize NOW, under the lowered thresholds
        val rows = joined.collect()
        import scala.jdk.CollectionConverters._
        s.createDataFrame(rows.toSeq.asJava, joined.schema)
      }
    },

    // ANSI interval types: typed YEAR TO MONTH / DAY TO SECOND interval
    // literals, interval arithmetic on timestamps, and interval
    // division — the 2.4-era engine had only CalendarInterval.  Dates
    // render as strings (tz-naive compare rule); the month count is an
    // exact integer.
    "q_ansi_intervals" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderkey,
          |  date_format(o_orderdate + INTERVAL '1-6' YEAR TO MONTH,
          |    'yyyy-MM-dd') AS plus_18m,
          |  date_format(o_orderdate - INTERVAL '10 12:30:00' DAY TO SECOND,
          |    'yyyy-MM-dd HH:mm:ss') AS minus_10d,
          |  date_format(o_orderdate + (INTERVAL '3-0' YEAR TO MONTH) / 4,
          |    'yyyy-MM-dd') AS plus_quarter_span
          |FROM orders WHERE o_orderkey <= 100
          |ORDER BY o_orderkey""".stripMargin)
    },

    // Cohort retention: users bucketed by first-activity week, then a
    // (cohort_week, weeks_since) distinct-user matrix — two aggregates
    // on the user key and nothing fact-sized past them.
    "q_cohort_retention" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"),
          floor(unix_timestamp(col("ts")) / 604800L).cast("long").as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cw"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cw"), (col("wk") - col("cw")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cw"), col("weeks_since"))
    },

    // Ordered funnel: signup → later click → later purchase per user,
    // counted per stage.  Each stage is an aggregate-then-join on the
    // user key (never a per-event self-join), so at 100 TB the funnel
    // costs one shuffle per stage over per-user minima.  Identical
    // text runs on DuckDB.
    "q_funnel" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """WITH u AS (
          |  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
          |  FROM events GROUP BY user_id),
          |c AS (
          |  SELECT e.user_id, min(e.ts) AS t_click
          |  FROM events e JOIN u ON e.user_id = u.user_id
          |  WHERE e.event_type = 'click' AND e.ts > u.t_signup
          |  GROUP BY e.user_id),
          |p AS (
          |  SELECT e.user_id, min(e.ts) AS t_buy
          |  FROM events e JOIN c ON e.user_id = c.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          |  GROUP BY e.user_id)
          |SELECT
          |  (SELECT count(*) FROM u WHERE t_signup IS NOT NULL) AS n_signup,
          |  (SELECT count(*) FROM c) AS n_click_after,
          |  (SELECT count(*) FROM p) AS n_purchase_after""".stripMargin)
    },

    // Extension-registered SQL functions: graft_* names resolve through
    // spark.sql.extensions (GraftExtensions.injectFunction) — no
    // per-session registration code anywhere; the SQL text just parses.
    // Values check bit-exact against DuckDB equivalents.
    "q_ext_functions" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT n_nationkey,
          |  CAST(graft_hamming64(CAST(n_nationkey AS BIGINT),
          |                       CAST(n_regionkey AS BIGINT)) AS BIGINT) AS hd,
          |  graft_morton2(CAST(n_nationkey AS INT), CAST(n_regionkey AS INT)) AS z,
          |  CAST(round(graft_jaccard_sorted(
          |    sort_array(array_distinct(array(CAST(n_nationkey % 3 AS BIGINT),
          |      CAST(n_nationkey % 5 AS BIGINT), CAST(n_nationkey % 7 AS BIGINT)))),
          |    sort_array(array_distinct(array(CAST(n_nationkey % 4 AS BIGINT),
          |      CAST(n_nationkey % 5 AS BIGINT), CAST(n_nationkey % 6 AS BIGINT))))), 6) AS DOUBLE) AS jac
          |FROM nation ORDER BY n_nationkey""".stripMargin)
    },

    // Z-order (Morton) codes: the custom codegen expression against a
    // bit-exact DuckDB oracle (the same interleave unrolled into 32
    // shift-mask terms).  The layout operator built on it is
    // plan/locality-asserted in LayoutSpec.
    "q_zorder_code" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 1024).cast("int").as("zx"),
          (col("l_suppkey") % 1024).cast("int").as("zy"))
        .withColumn("z", graft.functions.morton2(col("zx"), col("zy")))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Z-order write path end-to-end: cluster lineitem by the Morton
    // code of (partkey, suppkey) buckets, write parquet, read back and
    // run a 2-D box query — the layout buys file skipping at scale and
    // must change NOTHING about results (the oracle reads the original
    // table).
    "q_zorder_layout" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_quantity"),
          (col("l_partkey") % 1024).cast("int").as("zx"),
          (col("l_suppkey") % 1024).cast("int").as("zy"))
      val out = graft.TmpCleanup.tempDir("graft_zorder_gate")
      graft.ops.Layout.zorder(li, col("zx"), col("zy"), buckets = 8)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("zx").between(100, 400) && col("zy").between(200, 500))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
    },

    // Hilbert CODE bit-exactness: the xy2d recursion must produce the
    // identical BIGINT index in both engines — the DuckDB twin runs
    // the same per-level reflect-swap-accumulate as a recursive CTE
    // (10 levels of state (x, y, d, s) per row), the same rigor
    // q_zorder_code gets from its unrolled-shift twin.
    "q_hilbert_code" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 1024).cast("int").as("hx"),
          (col("l_suppkey") % 1024).cast("int").as("hy"))
        .withColumn("h", graft.functions.hilbert2(col("hx"), col("hy"), 10))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Hilbert-clustered write → 2-D box query == plain-table oracle
    // (same end-to-end contract as q_zorder_layout; the Hilbert curve's
    // consecutive-cell adjacency is pinned by LayoutSpec — this gate
    // proves the layout is a pure reordering that changes no answer).
    "q_hilbert_layout" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_quantity"),
          (col("l_partkey") % 1024).cast("int").as("hx"),
          (col("l_suppkey") % 1024).cast("int").as("hy"))
      val out = graft.TmpCleanup.tempDir("graft_hilbert_gate")
      graft.ops.Layout.hilbertOrder(li, col("hx"), col("hy"),
          buckets = 8, bits = 10)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("hx").between(300, 600) && col("hy").between(100, 400))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("qty"))
    },

    // percent_rank + cume_dist side by side over the same ordered
    // partition (the two normalized-rank definitions differ at the
    // edges: (rank-1)/(n-1) vs rank/n).
    "q_window_percent_rank" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT s_suppkey, s_nationkey,
          |  CAST(round(percent_rank() OVER w, 6) AS DOUBLE) AS pr,
          |  CAST(round(cume_dist() OVER w, 6) AS DOUBLE) AS cd
          |FROM supplier
          |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
          |ORDER BY s_nationkey, s_suppkey""".stripMargin)
    })

  /** DuckDB twin of [[graft.functions.InterleaveBits16]]: the same
    * interleave unrolled to per-bit shift-mask terms (bit-exact, no
    * floating point anywhere).
    */
  private def mortonSql(x: String, y: String): String = {
    val tx = (0 until 16).map(i => s"((($x >> $i) & 1) << ${2 * i})").mkString(" + ")
    val ty = (0 until 16).map(i => s"((($y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
    s"CAST(($tx) + ($ty) AS BIGINT)"
  }

  val oracle: Map[String, String] = Map(
    "q_ansi_intervals" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL '1 year 6 months', '%Y-%m-%d') AS plus_18m,
        |  strftime(o_orderdate - INTERVAL '10 days 12 hours 30 minutes',
        |    '%Y-%m-%d %H:%M:%S') AS minus_10d,
        |  strftime(o_orderdate + INTERVAL '9 months', '%Y-%m-%d') AS plus_quarter_span
        |FROM orders WHERE o_orderkey <= 100
        |ORDER BY o_orderkey""".stripMargin,
    "q_cohort_retention" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT) AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cw FROM ev GROUP BY user_id)
        |SELECT c.cw, e.wk - c.cw AS weeks_since,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |GROUP BY c.cw, e.wk - c.cw
        |ORDER BY cw, weeks_since""".stripMargin,
    "q_funnel" ->
      """WITH u AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN u ON e.user_id = u.user_id
        |  WHERE e.event_type = 'click' AND e.ts > u.t_signup
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_buy
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY e.user_id)
        |SELECT
        |  (SELECT count(*) FROM u WHERE t_signup IS NOT NULL) AS n_signup,
        |  (SELECT count(*) FROM c) AS n_click_after,
        |  (SELECT count(*) FROM p) AS n_purchase_after""".stripMargin,
    "q_ext_functions" ->
      s"""SELECT n_nationkey,
         |  CAST(bit_count(xor(CAST(n_nationkey AS BIGINT),
         |                     CAST(n_regionkey AS BIGINT))) AS BIGINT) AS hd,
         |  ${mortonSql("n_nationkey", "n_regionkey")} AS z,
         |  CAST(round(
         |    CAST(len(list_intersect(
         |      list_distinct([n_nationkey % 3, n_nationkey % 5, n_nationkey % 7]),
         |      list_distinct([n_nationkey % 4, n_nationkey % 5, n_nationkey % 6]))) AS DOUBLE)
         |    / len(list_distinct([n_nationkey % 3, n_nationkey % 5, n_nationkey % 7]
         |        || [n_nationkey % 4, n_nationkey % 5, n_nationkey % 6])), 6) AS DOUBLE) AS jac
         |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_hilbert_code" ->
      """WITH RECURSIVE pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_partkey % 1024 AS INTEGER) AS hx,
        |    CAST(l_suppkey % 1024 AS INTEGER) AS hy
        |  FROM lineitem WHERE l_orderkey <= 100),
        |hrec AS (
        |  SELECT l_orderkey, l_linenumber, hx, hy, hx AS x, hy AS y,
        |         CAST(0 AS BIGINT) AS d, 512 AS s
        |  FROM pts
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, hx, hy,
        |    CASE WHEN (y & s) = 0
        |         THEN (CASE WHEN (x & s) > 0 THEN 1023 - y ELSE y END)
        |         ELSE x END,
        |    CASE WHEN (y & s) = 0
        |         THEN (CASE WHEN (x & s) > 0 THEN 1023 - x ELSE x END)
        |         ELSE y END,
        |    d + CAST(s AS BIGINT) * s *
        |      xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
        |          CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
        |    s // 2
        |  FROM hrec WHERE s > 0)
        |SELECT l_orderkey, l_linenumber, hx, hy, d AS h
        |FROM hrec WHERE s = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_hilbert_layout" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE (l_partkey % 1024) BETWEEN 300 AND 600
        |  AND (l_suppkey % 1024) BETWEEN 100 AND 400""".stripMargin,

    "q_zorder_layout" ->
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE (l_partkey % 1024) BETWEEN 100 AND 400
        |  AND (l_suppkey % 1024) BETWEEN 200 AND 500""".stripMargin,
    "q_zorder_code" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(l_partkey % 1024 AS INT) AS zx,
         |  CAST(l_suppkey % 1024 AS INT) AS zy,
         |  ${mortonSql("(l_partkey % 1024)", "(l_suppkey % 1024)")} AS z
         |FROM lineitem WHERE l_orderkey <= 100
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_fn_regex_tail" ->
      """SELECT p_partkey,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
        |  regexp_extract(p_name, '[a-z]+', 0) AS first_word,
        |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), ',') AS words_csv
        |FROM part WHERE p_partkey <= 200
        |ORDER BY p_partkey""".stripMargin,
    "q_agg_bitwise" ->
      """SELECT l_returnflag,
        |  bit_and(l_partkey % 256) AS band,
        |  bit_or(l_partkey % 256) AS bor,
        |  bit_xor(l_partkey % 256) AS bxor,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_cache_table" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        |FROM customer GROUP BY c_nationkey
        |HAVING count(*) > 0
        |ORDER BY c_nationkey""".stripMargin,
    "q_dpp_join" ->
      """SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_runtime_bloom" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size = 1
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_window_percent_rank" ->
      """SELECT s_suppkey, s_nationkey,
        |  CAST(round(percent_rank() OVER w, 6) AS DOUBLE) AS pr,
        |  CAST(round(cume_dist() OVER w, 6) AS DOUBLE) AS cd
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin)
}
