package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Second Spark-4-era SQL-surface battery (companion to [[ModernSql]]):
  * engine features the 2.4-generation reference never had, each proven
  * against a DuckDB oracle.  Declarative SQL surface only — every entry
  * still plans through Catalyst into the same distributed operators as
  * the DataFrame batteries, so the 100 TB story is unchanged.
  *
  *  - SQL UDFs (scalar + table-valued): CREATE FUNCTION ... RETURN —
  *    the body inlines into the plan at analysis, so unlike the
  *    reference's ScalaUDF bridge (`ScalaUDF.scala:46`) there is no
  *    codegen boundary and pushdown still works through the call.
  *  - Session variables + EXECUTE IMMEDIATE (dynamic SQL).
  *  - WITH RECURSIVE (iterative plans inside one statement).
  *  - Lateral column aliases (projection-internal reuse).
  *  - String collations (UTF8_LCASE comparison/grouping semantics).
  *  - SQL pipe syntax (|>) — same plan, postfix notation.
  *  - IDENTIFIER() — parameterizable identifiers without SQL injection.
  *  - TABLESAMPLE / DISTRIBUTE BY / CLUSTER BY physical-layout surface.
  */
object ModernSql4 {
  type Q = (SparkSession, String) => DataFrame

  private def sql(q: String): Q = { (s, dir) =>
    Tables.registerAll(s, dir)
    s.sql(q)
  }

  /** Run setup statements (DDL, DECLARE, SET) then return the last
    * query's frame.
    */
  private def script(stmts: String*): Q = { (s, dir) =>
    Tables.registerAll(s, dir)
    stmts.init.foreach(s.sql(_))
    s.sql(stmts.last)
  }

  val queries: Map[String, Q] = Map(
    // Scalar SQL UDF: the body is inlined by the analyzer, so the
    // decimal-exact money arithmetic inside it optimizes like any
    // other expression (predicate pushdown unaffected).
    "q_sql_udf" -> script(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, d DOUBLE)
        |RETURNS DOUBLE
        |RETURN CAST(CAST(p AS DECIMAL(12,2)) * (1 - CAST(d AS DECIMAL(12,2))) AS DOUBLE)""".stripMargin,
      """SELECT l_returnflag,
        |  CAST(round(sum(graft_disc_price(l_extendedprice, l_discount)), 2) AS DOUBLE) AS disc_revenue,
        |  count(*) AS n
        |FROM lineitem WHERE l_quantity < 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Table-valued SQL UDF: RETURNS TABLE with a parameterized body
    // over a real table; the call site composes with a join like any
    // relation.
    "q_sql_udtf" -> script(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_region_nations(rk INT)
        |RETURNS TABLE(n_nationkey INT, n_name STRING)
        |RETURN SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = rk""".stripMargin,
      """SELECT t.n_name, count(s.s_suppkey) AS n_supp
        |FROM graft_region_nations(2) t
        |LEFT JOIN supplier s ON s.s_nationkey = t.n_nationkey
        |GROUP BY t.n_name ORDER BY t.n_name""".stripMargin),

    // Session variables: DECLARE + SET VAR from a scalar subquery, then
    // reference the variable in a later statement — cross-statement
    // state the reference could only fake with string interpolation.
    "q_session_vars" -> script(
      "DECLARE OR REPLACE VARIABLE graft_bal_cut DOUBLE",
      "SET VAR graft_bal_cut = (SELECT avg(c_acctbal) FROM customer)",
      """SELECT c_mktsegment, count(*) AS n_above
        |FROM customer WHERE c_acctbal > graft_bal_cut
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // EXECUTE IMMEDIATE: dynamic SQL text with positional parameters —
    // the parameters bind as literals, not string splices.
    "q_exec_immediate" -> script(
      """EXECUTE IMMEDIATE
        |  'SELECT n_name, n_nationkey FROM nation WHERE n_regionkey = ? ORDER BY n_nationkey'
        |  USING 3""".stripMargin),

    // WITH RECURSIVE: a 0..24 integer spine generated inside the
    // statement, LEFT-joined against customer nations so empty keys
    // surface as zero — the recursion is driver-free and the join
    // still distributes.
    "q_recursive_cte" -> sql(
      """WITH RECURSIVE seq(n) AS (
        |  SELECT 0
        |  UNION ALL
        |  SELECT n + 1 FROM seq WHERE n < 24
        |)
        |SELECT s.n, count(c.c_custkey) AS n_cust
        |FROM seq s LEFT JOIN customer c ON c.c_nationkey = s.n
        |GROUP BY s.n ORDER BY s.n""".stripMargin),

    // Lateral column aliases: disc reused twice in the same SELECT —
    // the 2.4-era reference rejects this at analysis.
    // The lateral alias (disc_dec, referenced twice later in the same
    // SELECT list) stays DECIMAL so the tax rounding is exact: the
    // product has exactly 6 decimal digits, so round(x, 4) hits true
    // half-ties ("…50") that double-rounding resolves differently per
    // engine — found at sf0.1 (0.24% of rows), invisible at sf0.01.
    "q_lateral_alias" -> sql(
      """SELECT l_orderkey, l_linenumber, disc, charged FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS disc_dec,
        |    CAST(disc_dec AS DOUBLE) AS disc,
        |    CAST(round(disc_dec * (1 + CAST(l_tax AS DECIMAL(12,2))), 4) AS DOUBLE) AS charged
        |  FROM lineitem WHERE l_orderkey <= 100)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // Collations: DISTINCT under UTF8_LCASE counts case-insensitively.
    // The cased/uncased copies are injected in-query so the contrast
    // (case-sensitive vs collated distinct) is structural, not
    // data-dependent.
    "q_collation" -> sql(
      """SELECT count(DISTINCT nm COLLATE UTF8_LCASE) AS n_ci,
        |       count(DISTINCT nm) AS n_cs
        |FROM (
        |  SELECT n_name AS nm FROM nation
        |  UNION ALL
        |  SELECT lower(n_name) FROM nation
        |)""".stripMargin),

    // SQL pipe syntax: the postfix composition form; plans identically
    // to the nested SELECT the oracle runs.
    "q_pipe_syntax" -> sql(
      """FROM lineitem
        ||> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        ||> AGGREGATE count(*) AS n,
        |     CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |     GROUP BY l_returnflag, l_linestatus
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // SQL scripting: a BEGIN...END block with local variables, a WHILE
    // loop and an IF branch — compound statements the 2.4-era reference
    // could only express driver-side.  The loop accumulates the first 5
    // region keys (0+1+2+3+4 = 10) and the IF picks the real branch;
    // the final SELECT is ordinary distributed SQL over customer.
    "q_sql_scripting" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      GraftSession.withConf(s, "spark.sql.scripting.enabled" -> "true")(s.sql(
        """BEGIN
          |  DECLARE i INT DEFAULT 0;
          |  DECLARE key_acc BIGINT DEFAULT 0;
          |  DECLARE cut DOUBLE;
          |  WHILE i < 5 DO
          |    SET key_acc = key_acc + i;
          |    SET i = i + 1;
          |  END WHILE;
          |  SET cut = (SELECT avg(c_acctbal) FROM customer);
          |  IF cut > 0 THEN
          |    SELECT c_mktsegment, count(*) AS n_above, key_acc AS loop_sum
          |    FROM customer WHERE c_acctbal > cut
          |    GROUP BY c_mktsegment ORDER BY c_mktsegment;
          |  ELSE
          |    SELECT 'none' AS c_mktsegment, CAST(0 AS BIGINT) AS n_above,
          |      key_acc AS loop_sum;
          |  END IF;
          |END""".stripMargin))
    },

    // IDENTIFIER(): table name arrives as a bound string parameter —
    // the injection-safe form of dynamic table dispatch.
    "q_identifier" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("SELECT r_regionkey, r_name FROM IDENTIFIER(:tbl) ORDER BY r_regionkey",
        Map("tbl" -> "region"))
    },

    // TABLESAMPLE: engine-specific kept set, so the oracle checks the
    // binomial envelope (same technique as q_sample_seeded) plus the
    // exact population count in the same row.
    "q_tablesample" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT (SELECT count(*) FROM orders) AS n_total,
          |  count(*) >= 0.08 * (SELECT count(*) FROM orders) AND
          |  count(*) <= 0.12 * (SELECT count(*) FROM orders) AS n_in_bounds
          |FROM orders TABLESAMPLE (10 PERCENT) REPEATABLE (42)""".stripMargin)
    },

    // SQL hint surface: /*+ BROADCAST(...) */ forces the dim broadcast
    // and /*+ REPARTITION(n) */ pins the pre-agg layout.  DuckDB parses
    // the hint as an ordinary comment, so the IDENTICAL text is the
    // oracle; the plan effect is asserted in ModernSql4Spec.
    "q_sql_hints" -> sql(
      """SELECT /*+ BROADCAST(nation), REPARTITION(8) */
        |  n_name, count(*) AS n_supp,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // DISTRIBUTE BY + SORT BY (and the CLUSTER BY contraction): the
    // partition-layout clauses must not change query results — the
    // aggregate over the redistributed relation matches the plain
    // oracle exactly.
    "q_distribute_by" -> sql(
      """SELECT l_suppkey, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM (SELECT l_suppkey, l_quantity FROM lineitem
        |      DISTRIBUTE BY l_suppkey SORT BY l_suppkey)
        |WHERE l_suppkey <= 20
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
    "q_cluster_by" -> sql(
      """SELECT o_orderpriority, count(*) AS n
        |FROM (SELECT o_orderpriority FROM orders CLUSTER BY o_orderpriority)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))

  val oracle: Map[String, String] = Map(
    "q_sql_udf" ->
      """SELECT l_returnflag,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)), 2) AS DOUBLE) AS disc_revenue,
        |  count(*) AS n
        |FROM lineitem WHERE l_quantity < 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_sql_udtf" ->
      """SELECT t.n_name, count(s.s_suppkey) AS n_supp
        |FROM (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2) t
        |LEFT JOIN supplier s ON s.s_nationkey = t.n_nationkey
        |GROUP BY t.n_name ORDER BY t.n_name""".stripMargin,
    "q_session_vars" ->
      """SELECT c_mktsegment, count(*) AS n_above
        |FROM customer WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_exec_immediate" ->
      """SELECT n_name, n_nationkey FROM nation WHERE n_regionkey = 3
        |ORDER BY n_nationkey""".stripMargin,
    "q_recursive_cte" ->
      """WITH RECURSIVE seq(n) AS (
        |  SELECT 0
        |  UNION ALL
        |  SELECT n + 1 FROM seq WHERE n < 24
        |)
        |SELECT s.n, count(c.c_custkey) AS n_cust
        |FROM seq s LEFT JOIN customer c ON c.c_nationkey = s.n
        |GROUP BY s.n ORDER BY s.n""".stripMargin,
    "q_lateral_alias" ->
      """SELECT l_orderkey, l_linenumber, disc, charged FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS disc_dec,
        |    CAST(disc_dec AS DOUBLE) AS disc,
        |    CAST(round(disc_dec * (1 + CAST(l_tax AS DECIMAL(12,2))), 4) AS DOUBLE) AS charged
        |  FROM lineitem WHERE l_orderkey <= 100)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_collation" ->
      """SELECT count(DISTINCT lower(nm)) AS n_ci,
        |       count(DISTINCT nm) AS n_cs
        |FROM (
        |  SELECT n_name AS nm FROM nation
        |  UNION ALL
        |  SELECT lower(n_name) FROM nation
        |)""".stripMargin,
    "q_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_sql_scripting" ->
      """SELECT c_mktsegment, count(*) AS n_above, CAST(10 AS BIGINT) AS loop_sum
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_identifier" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "q_tablesample" ->
      """SELECT (SELECT count(*) FROM orders) AS n_total, TRUE AS n_in_bounds""".stripMargin,
    "q_sql_hints" ->
      """SELECT /*+ BROADCAST(nation), REPARTITION(8) */
        |  n_name, count(*) AS n_supp,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_distribute_by" ->
      """SELECT l_suppkey, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_suppkey <= 20
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q_cluster_by" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
