package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Differential fuzz battery — seeded random query generation over the
  * Spark∩DuckDB common dialect, every generated query an oracle-checked
  * gate entry (the SQLSmith idea, aimed at the two engines' shared
  * semantics instead of crashes).
  *
  * The generator is a pure function of the seed (splitmix-style PRNG),
  * so Verify and the oracle dump always carry the SAME text.  The
  * grammar stays inside deterministic integer land on purpose: non-
  * negative integer columns, plus/times with small constants, `%`
  * on non-negatives, comparisons, IN lists, nested CASE, sum/count/
  * min/max with BIGINT casts, GROUP BY + optional HAVING, total ORDER
  * BY — no doubles, no division, no overflow (operand magnitudes are
  * bounded by construction).
  */
object FuzzQueries {
  type Q = (SparkSession, String) => DataFrame

  private[queries] final class Rng(seed: Long) {
    private var s = seed
    def next(n: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n + n) % n).toInt
    }
    def pick[A](xs: Seq[A]): A = xs(next(xs.length))
  }

  /** (table, integer columns ≥ 0, unique key for tie-breaks) */
  private val tables = Seq(
    ("nation", Seq("n_nationkey", "n_regionkey"), "n_nationkey"),
    ("supplier", Seq("s_suppkey", "s_nationkey"), "s_suppkey"),
    ("customer", Seq("c_custkey", "c_nationkey"), "c_custkey"),
    ("region", Seq("r_regionkey"), "r_regionkey"))

  private def genArith(r: Rng, cols: Seq[String], depth: Int): String =
    if (depth == 0 || r.next(3) == 0) {
      if (r.next(4) == 0) (r.next(9) + 1).toString else r.pick(cols)
    } else r.next(4) match {
      case 0 => s"(${genArith(r, cols, depth - 1)} + ${genArith(r, cols, depth - 1)})"
      case 1 => s"(${genArith(r, cols, depth - 1)} * ${r.next(5) + 1})"
      case 2 => s"(${r.pick(cols)} % ${r.next(7) + 2})"
      case _ => s"CASE WHEN ${genPred(r, cols, 0)} " +
        s"THEN ${genArith(r, cols, depth - 1)} ELSE ${r.next(5)} END"
    }

  private def genPred(r: Rng, cols: Seq[String], depth: Int): String =
    if (depth == 0 || r.next(3) == 0) r.next(3) match {
      case 0 => s"${r.pick(cols)} ${r.pick(Seq("<", "<=", ">", ">=", "="))} ${r.next(20)}"
      case 1 => s"${r.pick(cols)} IN (${Seq.fill(r.next(3) + 1)(r.next(25)).distinct.mkString(", ")})"
      case _ => s"${r.pick(cols)} % ${r.next(5) + 2} = ${r.next(2)}"
    } else r.next(3) match {
      case 0 => s"(${genPred(r, cols, depth - 1)} AND ${genPred(r, cols, depth - 1)})"
      case 1 => s"(${genPred(r, cols, depth - 1)} OR ${genPred(r, cols, depth - 1)})"
      case _ => s"NOT (${genPred(r, cols, depth - 1)})"
    }

  /** One full SELECT: filtered grouped aggregation of two generated
    * expressions with a deterministic total order.
    */
  private def genQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val groupExpr = s"(${r.pick(cols)} % ${r.next(5) + 2})"
    val a1 = genArith(r, cols, 2)
    val a2 = genArith(r, cols, 2)
    val pred = genPred(r, cols, 2)
    val having = if (r.next(2) == 0) "" else s"\nHAVING count(*) >= ${r.next(3)}"
    s"""SELECT $groupExpr AS g,
       |  CAST(sum($a1) AS BIGINT) AS s1,
       |  CAST(min($a2) AS BIGINT) AS m1,
       |  CAST(max($key) AS BIGINT) AS mx,
       |  count(*) AS n
       |FROM $table
       |WHERE $pred
       |GROUP BY $groupExpr$having
       |ORDER BY g""".stripMargin
  }

  /** Joinable table pairs: (left table, left cols, right table, right
    * cols, left key = right key equi condition).
    */
  private val joinPairs = Seq(
    ("nation", Seq("n_nationkey", "n_regionkey"), "region", Seq("r_regionkey"),
      "n_regionkey = r_regionkey"),
    ("supplier", Seq("s_suppkey", "s_nationkey"), "nation",
      Seq("n_nationkey", "n_regionkey"), "s_nationkey = n_nationkey"),
    ("customer", Seq("c_custkey", "c_nationkey"), "nation",
      Seq("n_nationkey", "n_regionkey"), "c_nationkey = n_nationkey"))

  /** Two-table join query: INNER or LEFT OUTER with a generated filter
    * (left-side columns only, so LEFT keeps outer semantics), grouped
    * aggregation over mixed-side expressions, and a right-side
    * `count(col)` to exercise null-skipping under outer joins.  NULLS
    * FIRST is pinned — the engines' default null order differs.
    */
  private def genJoinQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (t1, cols1, t2, cols2, on) = r.pick(joinPairs)
    val joinType = r.pick(Seq("JOIN", "LEFT JOIN"))
    val all = cols1 ++ cols2
    val groupExpr = s"(${r.pick(all)} % ${r.next(4) + 2})"
    val a1 = genArith(r, all, 2)
    val a2 = genArith(r, cols1, 2)
    val pred = genPred(r, cols1, 2)
    val rcol = r.pick(cols2)
    s"""SELECT $groupExpr AS g,
       |  CAST(sum($a1) AS BIGINT) AS s1,
       |  CAST(min($a2) AS BIGINT) AS m1,
       |  count($rcol) AS nr,
       |  count(*) AS n
       |FROM $t1 $joinType $t2 ON $on
       |WHERE $pred
       |GROUP BY $groupExpr
       |ORDER BY g NULLS FIRST""".stripMargin
  }

  /** Window-function fuzz: rank/dense_rank (tie-bearing order),
    * row_number/lag/lead and a running ROWS-frame sum (total order —
    * the unique key is always the last sort key), all over a GROUPED
    * aggregate (the window's input is group-count-sized, the shape the
    * keyed-window plan lint demands at scale).  The running window sum
    * is CAST AS BIGINT on both engines — DuckDB window sums return
    * HUGEINT.  Rank ties come from ordering by `v1 % m`, so tie
    * semantics (equal rank, dense gaps) are genuinely exercised yet
    * deterministic.
    */
  private def genWindowQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val a1 = genArith(r, cols, 2)
    val pred = genPred(r, cols, 2)
    val part = r.next(4) + 2
    val tieMod = r.next(5) + 2
    val rankFn = r.pick(Seq("rank()", "dense_rank()"))
    val shiftFn = r.pick(Seq("lag", "lead"))
    s"""WITH base AS (
       |  SELECT $key AS k,
       |    CAST(sum($a1) AS BIGINT) AS v1,
       |    count(*) AS c
       |  FROM $table
       |  WHERE $pred
       |  GROUP BY $key)
       |SELECT k, v1, c,
       |  $rankFn OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod)) AS rk,
       |  row_number() OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod), k) AS rn,
       |  $shiftFn(v1, 1) OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod), k) AS sh,
       |  CAST(sum(v1) OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod), k
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rs
       |FROM base
       |ORDER BY k""".stripMargin
  }

  /** Set-operation fuzz: two generated branches (possibly different
    * tables, columns BIGINT-aligned) through a random set op including
    * the ALL variants; the outer GROUP BY makes the multiset result a
    * deterministic total-ordered relation.
    */
  private def genSetQuery(seed: Long): String = {
    val r = new Rng(seed)
    val op = r.pick(Seq("UNION", "UNION ALL", "INTERSECT", "EXCEPT",
      "INTERSECT ALL", "EXCEPT ALL"))
    def branch(): String = {
      val (t, cs, _) = r.pick(tables)
      val x = s"(${r.pick(cs)} % ${r.next(6) + 2})"
      val y = genArith(r, cs, 1)
      s"""SELECT CAST($x AS BIGINT) AS x, CAST($y AS BIGINT) AS y
         |  FROM $t WHERE ${genPred(r, cs, 1)}""".stripMargin
    }
    s"""SELECT x, y, count(*) AS n FROM (
       |${branch()}
       |$op
       |${branch()}
       |)
       |GROUP BY x, y
       |ORDER BY x, y""".stripMargin
  }

  /** Outer-join-chain fuzz with NULL keys: a filtered fact LEFT/INNER
    * joins nation, then LEFT/FULL joins region on a NULLIF-poisoned
    * key — genuinely null join keys (never match, 3VL drop) plus
    * right-only rows under FULL.  Aggregates pin the null-semantics
    * corners: count(col) null-skip vs count(*), sums over nullable
    * sides coalesced AFTER the join, NULL group keys ordered FIRST.
    */
  private def genOuterChainQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (t1, cols1, _, _, on) = r.pick(joinPairs.filter(_._3 == "nation"))
    val j1 = r.pick(Seq("JOIN", "LEFT JOIN"))
    val j2 = r.pick(Seq("LEFT JOIN", "FULL JOIN"))
    val poison = r.next(5)
    val pred = genPred(r, cols1, 2)
    val a1 = genArith(r, cols1, 1)
    val gMod = r.next(3) + 2
    s"""SELECT coalesce(r_regionkey, -1) AS g,
       |  (coalesce(n_nationkey, -9) % $gMod) AS g2,
       |  count(*) AS n,
       |  count(n_regionkey) AS nn,
       |  count(r_regionkey) AS nr,
       |  CAST(sum(coalesce($a1, -1)) AS BIGINT) AS s1
       |FROM (SELECT * FROM $t1 WHERE $pred) f
       |$j1 nation ON $on
       |$j2 region ON NULLIF(n_regionkey, $poison) = r_regionkey
       |GROUP BY coalesce(r_regionkey, -1), (coalesce(n_nationkey, -9) % $gMod)
       |ORDER BY g NULLS FIRST, g2 NULLS FIRST""".stripMargin
  }

  /** DECIMAL-arithmetic fuzz near precision boundaries: integer
    * columns cast to DECIMAL(12,s), combined with exact + and *
    * (intermediates reach DECIMAL(25,2s) — past both engines' fast
    * 64-bit paths), summed exactly, and compared as a SCALED BIGINT
    * (sum · 10^2s) — decimal→double/string rendering never enters the
    * oracle.  No division, no rounding, non-negative operands; tables
    * are the key-bounded dims so the scaled integer stays far from
    * 2^63 at any corpus SF.
    */
  private def genDecimalQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val s1 = r.next(3) + 1 // scale 1..3
    val d1 = s"CAST(${r.pick(cols)} AS DECIMAL(12,$s1))"
    val d2 = s"CAST((${r.pick(cols)} + ${r.next(9) + 1}) AS DECIMAL(12,$s1))"
    val expr = r.pick(Seq(
      s"($d1 * $d2)",
      s"(($d1 + $d2) * $d2)",
      s"(($d1 * $d2) + ($d2 * ${r.next(5) + 1}))"))
    val outScale = 2 * s1
    val tenPow = math.pow(10, outScale).toLong
    val pred = genPred(r, cols, 2)
    val gMod = r.next(5) + 2
    s"""SELECT ($key % $gMod) AS g,
       |  CAST(sum($expr) * CAST($tenPow AS DECIMAL(18,0)) AS BIGINT) AS s1,
       |  CAST(min($expr) * CAST($tenPow AS DECIMAL(18,0)) AS BIGINT) AS m1,
       |  count(*) AS n
       |FROM $table
       |WHERE $pred
       |GROUP BY ($key % $gMod)
       |ORDER BY g""".stripMargin
  }

  /** Correlation-compatible (outer, outerCols, outerKey, inner,
    * innerCols, innerFk) pairs: innerFk values range over outerKey.
    */
  private val corrPairs = Seq(
    ("nation", Seq("n_nationkey", "n_regionkey"), "n_nationkey",
      "supplier", Seq("s_suppkey", "s_nationkey"), "s_nationkey"),
    ("nation", Seq("n_nationkey", "n_regionkey"), "n_nationkey",
      "customer", Seq("c_custkey", "c_nationkey"), "c_nationkey"),
    ("region", Seq("r_regionkey"), "r_regionkey",
      "nation", Seq("n_nationkey", "n_regionkey"), "n_regionkey"))

  /** Correlated-subquery fuzz: one scalar correlated count, one
    * EXISTS, and the full three-valued IN / NOT IN verdict over a
    * NULLIF-poisoned inner projection — k ∈ set → 1, k provably ∉ set
    * (no NULLs survived the poison) → 0, UNKNOWN (∉ the non-null
    * members but a NULL is present) → -1.  The q8 class of
    * engine-lottery bug (decorrelation + 3VL) is exactly what this
    * family differentials.
    */
  private def genCorrelatedQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (ot, ocols, okey, it, icols, ifk) = r.pick(corrPairs)
    val innerPred = genPred(r, icols, 1)
    val existsPred = genPred(r, icols, 1)
    val inPred = genPred(r, icols, 1)
    val outerPred = genPred(r, ocols, 1)
    val poison = r.next(6)
    s"""SELECT $okey AS k,
       |  CAST((SELECT count(*) FROM $it i
       |        WHERE i.$ifk = o.$okey AND $innerPred) AS BIGINT) AS cnt,
       |  CASE WHEN EXISTS (SELECT 1 FROM $it i
       |                    WHERE i.$ifk = o.$okey AND $existsPred)
       |       THEN 1 ELSE 0 END AS ex,
       |  CASE WHEN o.$okey IN (SELECT NULLIF(i.$ifk, $poison)
       |                        FROM $it i WHERE $inPred) THEN 1
       |       WHEN o.$okey NOT IN (SELECT NULLIF(i.$ifk, $poison)
       |                            FROM $it i WHERE $inPred) THEN 0
       |       ELSE -1 END AS in3vl
       |FROM $ot o
       |WHERE $outerPred
       |ORDER BY k""".stripMargin
  }

  /** Grouping-analytics fuzz: ROLLUP / CUBE / GROUPING SETS over two
    * generated modular keys, with per-key `grouping()` indicators
    * (CAST on both engines — Spark returns TINYINT, DuckDB BIGINT)
    * and -1-coalesced key output (keys are non-negative by
    * construction, so the sentinel is unambiguous).  The ORDER BY
    * covers every output column, so the multiset of super-aggregate
    * rows is totally ordered.
    *
    * Fuzz find (seed 102): over an EMPTY filtered input, DuckDB emits
    * the `()` grand-total grouping-set row (count = 0, the standard
    * global-aggregate-over-empty behavior) while Spark's Expand-based
    * rewrite emits nothing — a genuine engine-semantics divergence.
    * `HAVING count(*) > 0` pins the family to the common dialect by
    * construction (it only drops the empty-input grand-total row), so
    * the gates stay corpus-independent no matter which seeds go empty
    * on a regenerated corpus.
    */
  private def genGroupingQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val m1 = r.next(4) + 2
    val m2 = r.next(3) + 2
    val c1 = r.pick(cols)
    val c2 = r.pick(cols)
    val a1 = genArith(r, cols, 2)
    val pred = genPred(r, cols, 1)
    val grouping = r.pick(Seq(
      "ROLLUP(g1, g2)", "CUBE(g1, g2)",
      "GROUPING SETS ((g1), (g2), (g1, g2), ())"))
    s"""SELECT coalesce(g1, -1) AS a, coalesce(g2, -1) AS b,
       |  CAST(grouping(g1) AS BIGINT) AS ga,
       |  CAST(grouping(g2) AS BIGINT) AS gb,
       |  CAST(sum(v) AS BIGINT) AS s1,
       |  count(*) AS n
       |FROM (SELECT ($c1 % $m1) AS g1, ($c2 % $m2) AS g2, ($a1) AS v
       |      FROM $table WHERE $pred)
       |GROUP BY $grouping
       |HAVING count(*) > 0
       |ORDER BY a, b, ga, gb""".stripMargin
  }

  /** String-function fuzz over ASCII name columns: compositions of
    * substr / upper / lower / reverse / replace / concat feed a
    * grouped aggregation — group key, length sums, and binary-order
    * min/max (both engines compare UTF-8 bytes; inputs stay ASCII by
    * construction, where byte order == codepoint order).
    */
  private val strTables = Seq(
    ("nation", "n_name", Seq("n_nationkey", "n_regionkey"), "n_nationkey"),
    ("region", "r_name", Seq("r_regionkey"), "r_regionkey"),
    ("customer", "c_name", Seq("c_custkey", "c_nationkey"), "c_custkey"))

  private def genStrExpr(r: Rng, col: String, depth: Int): String =
    if (depth == 0) col
    else r.next(6) match {
      case 0 => s"upper(${genStrExpr(r, col, depth - 1)})"
      case 1 => s"lower(${genStrExpr(r, col, depth - 1)})"
      case 2 => s"reverse(${genStrExpr(r, col, depth - 1)})"
      case 3 => s"substr(${genStrExpr(r, col, depth - 1)}, ${r.next(4) + 1}, ${r.next(6) + 1})"
      case 4 => s"replace(${genStrExpr(r, col, depth - 1)}, " +
        s"'${r.pick(Seq("A", "E", "R", "a", "e", "r", "0", "1"))}', " +
        s"'${r.pick(Seq("_", "~", "!"))}')"
      case _ => s"concat(${genStrExpr(r, col, depth - 1)}, '${r.pick(Seq("#", "+", "z"))}')"
    }

  private def genStringQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (table, strCol, intCols, key) = r.pick(strTables)
    val gExpr = genStrExpr(r, strCol, 2)
    val e2 = genStrExpr(r, strCol, 2)
    val e3 = genStrExpr(r, strCol, 2)
    val pred = genPred(r, intCols, 1)
    val prefixLen = r.next(3) + 1
    s"""SELECT substr($gExpr, 1, $prefixLen) AS g,
       |  count(*) AS n,
       |  CAST(sum(length($e2)) AS BIGINT) AS sl,
       |  min($e3) AS mn,
       |  max($e3) AS mx,
       |  CAST(max($key) AS BIGINT) AS mk
       |FROM $table
       |WHERE $pred
       |GROUP BY substr($gExpr, 1, $prefixLen)
       |ORDER BY g""".stripMargin
  }

  /** Temporal fuzz over lineitem's ship date (the corpus's one fact
    * date, stored as timestamp — CAST to DATE first on both sides):
    * calendar grouping by (year, month, day-of-week), days-to-month-end
    * via last_day, day-of-period via date_trunc, and a constant
    * day-shift rendered as an ISO string.  The dialects genuinely
    * differ here, so the generator emits a Spark text and a DuckDB
    * twin from the same seed: `date_add(d, k)` vs `d + k`,
    * `datediff(a, b)` (a−b) vs `date_diff('day', b, a)`, Spark's
    * `date_trunc` returns TIMESTAMP where DuckDB's returns DATE
    * (bridged by casting before the string render), and day-of-week
    * uses the documented engine-specific Sunday=0 forms (Spark
    * `pmod(datediff(d, 1970-01-01) + 4, 7)`, DuckDB `EXTRACT(DOW)`).
    * All date outputs leave as ISO strings — raw date/timestamp
    * columns never reach the pandas compare.
    */
  private final case class SplitQuery(spark: String, duck: String)

  private val liIntCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")

  private def genTemporalQuery(seed: Long): SplitQuery = {
    val r = new Rng(seed)
    val k = r.next(40) + 1
    val unit = r.pick(Seq("month", "quarter", "year"))
    val pred = genPred(r, liIntCols, 2)
    val base = s"""SELECT CAST(l_shipdate AS DATE) AS d
                  |  FROM lineitem WHERE $pred""".stripMargin
    val spark =
      s"""WITH b AS ($base)
         |SELECT CAST(year(d) AS BIGINT) AS y,
         |  CAST(month(d) AS BIGINT) AS m,
         |  CAST(pmod(datediff(d, DATE '1970-01-01') + 4, 7) AS BIGINT) AS dw,
         |  count(*) AS n,
         |  CAST(sum(datediff(last_day(d), d)) AS BIGINT) AS sme,
         |  CAST(sum(datediff(d, CAST(date_trunc('$unit', d) AS DATE))) AS BIGINT) AS sdp,
         |  min(CAST(date_add(d, $k) AS STRING)) AS mnd,
         |  max(CAST(CAST(date_trunc('$unit', d) AS DATE) AS STRING)) AS mxt
         |FROM b
         |GROUP BY year(d), month(d), pmod(datediff(d, DATE '1970-01-01') + 4, 7)
         |ORDER BY y, m, dw""".stripMargin
    val duck =
      s"""WITH b AS ($base)
         |SELECT CAST(year(d) AS BIGINT) AS y,
         |  CAST(month(d) AS BIGINT) AS m,
         |  CAST(EXTRACT(DOW FROM d) AS BIGINT) AS dw,
         |  count(*) AS n,
         |  CAST(sum(date_diff('day', d, last_day(d))) AS BIGINT) AS sme,
         |  CAST(sum(date_diff('day', date_trunc('$unit', d), d)) AS BIGINT) AS sdp,
         |  min(CAST((d + $k) AS VARCHAR)) AS mnd,
         |  max(CAST(date_trunc('$unit', d) AS VARCHAR)) AS mxt
         |FROM b
         |GROUP BY year(d), month(d), EXTRACT(DOW FROM d)
         |ORDER BY y, m, dw""".stripMargin
    SplitQuery(spark, duck)
  }

  /** Pipe-syntax fuzz (split texts): the SAME relational pipeline
    * expressed in Spark 4 SQL pipe syntax (|> WHERE / EXTEND /
    * AGGREGATE..GROUP BY / post-aggregate WHERE / ORDER BY) on the
    * Spark side and as a classic SELECT..GROUP BY..HAVING on the
    * DuckDB side — differential proof that the postfix form plans to
    * classic-SQL semantics under GENERATED predicates/arithmetic, not
    * just the one pinned q_pipe_syntax shape.  The post-aggregate
    * `|> WHERE n > h` is pipe's HAVING; EXTEND materializes the
    * generated expression once and aggregates reference the alias.
    */
  private def genPipeQuery(seed: Long): SplitQuery = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val pred = genPred(r, cols, 2)
    val a1 = genArith(r, cols, 2)
    val m = r.next(5) + 2
    val h = r.next(3)
    val spark =
      s"""FROM $table
         ||> WHERE $pred
         ||> EXTEND ($a1) AS e
         ||> AGGREGATE CAST(sum(e) AS BIGINT) AS s1,
         |     CAST(min(e) AS BIGINT) AS m1,
         |     count(*) AS n
         |     GROUP BY ($key % $m) AS g
         ||> WHERE n > $h
         ||> ORDER BY g""".stripMargin
    val duck =
      s"""SELECT ($key % $m) AS g,
         |  CAST(sum($a1) AS BIGINT) AS s1,
         |  CAST(min($a1) AS BIGINT) AS m1,
         |  count(*) AS n
         |FROM $table
         |WHERE $pred
         |GROUP BY ($key % $m)
         |HAVING count(*) > $h
         |ORDER BY g""".stripMargin
    SplitQuery(spark, duck)
  }

  /** Generator fuzz (split texts): per-row integer-sequence fan-out —
    * Spark `LATERAL VIEW explode/posexplode(sequence(lo, w, step))`
    * (the Generate plan node) vs DuckDB's
    * `unnest(generate_series(...))` scalar-list form (DuckDB's
    * generate_series TABLE function rejects lateral column args).  Both sequence forms are INCLUSIVE of the bound
    * with identical step semantics, so the fan-outs match by
    * construction; posexplode's 0-based position is replayed on the
    * DuckDB side as the exact integer `(i - lo) // step` (operands
    * non-negative, so `//` truncation == floor).  Fan-out is bounded
    * (w <= 5) — generated rows stay a small constant multiple of the
    * input, the explode shape that scales.
    */
  private def genGeneratorQuery(seed: Long): SplitQuery = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val pred = genPred(r, cols, 1)
    val a1 = genArith(r, cols, 1)
    val m = r.next(4) + 2
    val wMod = r.next(4) + 2
    val step = r.next(2) + 1
    val usePos = r.next(2) == 1
    val baseSel =
      s"""SELECT $key AS k, ($key % $m) AS g, (($a1) % $wMod + 1) AS w
         |  FROM $table WHERE $pred""".stripMargin
    if (usePos) {
      val spark =
        s"""WITH b AS ($baseSel)
           |SELECT g, CAST(sum((p + 1) * i) AS BIGINT) AS s, count(*) AS n
           |FROM b LATERAL VIEW posexplode(sequence(1, w, $step)) t AS p, i
           |GROUP BY g ORDER BY g""".stripMargin
      val duck =
        s"""WITH b AS ($baseSel),
           |x AS (SELECT g, unnest(generate_series(1, w, $step)) AS i FROM b)
           |SELECT g, CAST(sum(((i - 1) // $step + 1) * i) AS BIGINT) AS s,
           |  count(*) AS n
           |FROM x
           |GROUP BY g ORDER BY g""".stripMargin
      SplitQuery(spark, duck)
    } else {
      val spark =
        s"""WITH b AS ($baseSel)
           |SELECT g, CAST(sum(i * w) AS BIGINT) AS s, count(*) AS n
           |FROM b LATERAL VIEW explode(sequence(0, w, $step)) t AS i
           |GROUP BY g ORDER BY g""".stripMargin
      val duck =
        s"""WITH b AS ($baseSel),
           |x AS (SELECT g, w, unnest(generate_series(0, w, $step)) AS i FROM b)
           |SELECT g, CAST(sum(i * w) AS BIGINT) AS s, count(*) AS n
           |FROM x
           |GROUP BY g ORDER BY g""".stripMargin
      SplitQuery(spark, duck)
    }
  }

  /** JSON-path fuzz (split texts): a JSON document built per row by
    * IDENTICAL string concatenation on both engines (|| and CAST AS
    * STRING are common dialect), then field extraction through each
    * engine's JSON path function — Spark `get_json_object` vs DuckDB
    * `json_extract_string` — over scalar fields, a nested object, a
    * positional array element, and a MISSING key (NULL on both sides,
    * pinned via null-skipping count).  Extracted strings are BIGINT-cast
    * before aggregation so only path semantics are under test, never
    * JSON rendering.
    */
  private def genJsonQuery(seed: Long): SplitQuery = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val pred = genPred(r, cols, 1)
    val a1 = genArith(r, cols, 1)
    val a2 = genArith(r, cols, 1)
    val m = r.next(4) + 2
    val idx = r.next(3)
    val base =
      s"""SELECT ($key % $m) AS g,
         |  ('{"a":' || CAST(($a1) AS STRING) ||
         |   ',"o":{"x":' || CAST(($a2) AS STRING) || '}' ||
         |   ',"arr":[' || CAST($key AS STRING) || ',' ||
         |   CAST(($key + 1) AS STRING) || ',' ||
         |   CAST(($key % 7) AS STRING) || ']}') AS j
         |FROM $table WHERE $pred""".stripMargin
    def body(f: String => String): String =
      s"""SELECT g,
         |  CAST(sum(CAST(${f("$.a")} AS BIGINT)) AS BIGINT) AS sa,
         |  CAST(sum(CAST(${f("$.o.x")} AS BIGINT)) AS BIGINT) AS sx,
         |  CAST(sum(CAST(${f(s"$$.arr[$idx]")} AS BIGINT)) AS BIGINT) AS se,
         |  count(${f("$.zz")}) AS nmiss,
         |  count(*) AS n
         |GROUP BY g ORDER BY g""".stripMargin
    val sparkBody = body(path => s"get_json_object(j, '$path')")
    val duckBody = body(path => s"json_extract_string(j, '$path')")
    SplitQuery(
      s"WITH b AS ($base)\n" + sparkBody.replace("GROUP BY g", "FROM b\nGROUP BY g"),
      s"WITH b AS ($base)\n" + duckBody.replace("GROUP BY g", "FROM b\nGROUP BY g"))
  }

  /** Higher-order-lambda fuzz (split texts): seeded compositions of
    * `transform` / `filter` / `aggregate` / `zip_with` over generated
    * integer arrays vs the DuckDB `list_transform` / `list_filter` /
    * `list_reduce` twins — the lambda-BINDING corners no fixed gate
    * sweeps: an outer row column captured inside the lambda body, a
    * null-injecting transform feeding a null-skipping filter, a
    * BIGINT-init polynomial fold (DuckDB `list_reduce` takes no init,
    * so the init is `list_prepend`ed — the two fold shapes are then
    * identical element-for-element), and `zip_with` against the
    * reversed array replayed in DuckDB as a 1-based index transform
    * (`arr[i] * arr[len+1-i]`, both engines 1-based).  Everything is
    * integer and bounded by construction: arrays are ≤ 7 elements of
    * values < 100, the fold magnitude stays < 31⁷·96 ≈ 2.6e12 per row
    * and the row count is dim-table-sized, so integer sums never
    * approach 2⁶³ at any corpus scale.  Only scalars reach the output
    * (never raw arrays — the driver compare contract).
    */
  private def genHigherOrderQuery(seed: Long): SplitQuery = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val pred = genPred(r, cols, 1)
    val m = r.next(5) + 2       // group modulus
    val m1 = r.next(5) + 2      // array lo modulus
    val w = r.next(4) + 3       // array width (3..6 extra elems)
    val c1 = r.next(7) + 2      // transform multiplier
    val c2 = r.next(9)          // transform offset
    val m2 = r.next(4) + 2      // captured-outer-column modulus
    val nk = r.next(3) + 2      // null-injection modulus
    val k2 = r.next(3) + 2      // filter modulus
    // branched on seed PARITY (not a draw) so the row-selecting
    // predicate — hence seed non-emptiness — is untouched and the
    // frozen seed set provably covers BOTH arms: odd seeds fold the
    // NULL elements directly (the coalesce-inside-the-lambda null
    // semantics both engines must share), even seeds null-FILTER
    // before the fold
    val nullFilter = (seed & 1L) == 0L
    val lambda = s"(x * $c1 + k % $m2 + $c2) % 97"
    val nullify = s"CASE WHEN x % $nk = 0 THEN NULL ELSE $lambda END"
    def folded(transformed: String, filterFn: String): String =
      if (nullFilter) s"$filterFn($transformed, x -> x IS NOT NULL)"
      else transformed
    val spark =
      s"""WITH b AS (
         |  SELECT CAST($key AS BIGINT) AS k, ($key % $m) AS g,
         |    transform(sequence($key % $m1, $key % $m1 + $w),
         |      x -> CAST(x AS BIGINT)) AS arr
         |  FROM $table WHERE $pred)
         |SELECT g,
         |  CAST(sum(aggregate(
         |    ${folded(s"transform(arr, x -> $nullify)", "filter")},
         |    CAST(0 AS BIGINT), (acc, x) -> acc * 31 + coalesce(x, 7L)))
         |    AS BIGINT) AS s_fold,
         |  CAST(sum(aggregate(zip_with(arr, reverse(arr), (x, y) -> x * y),
         |    CAST(0 AS BIGINT), (acc, v) -> acc + v)) AS BIGINT) AS s_dot,
         |  CAST(sum(size(filter(arr, x -> x % $k2 = 0))) AS BIGINT) AS s_mod,
         |  count(*) AS n
         |FROM b GROUP BY g ORDER BY g""".stripMargin
    val duck =
      s"""WITH b AS (
         |  SELECT CAST($key AS BIGINT) AS k, ($key % $m) AS g,
         |    list_transform(generate_series($key % $m1, $key % $m1 + $w),
         |      x -> CAST(x AS BIGINT)) AS arr
         |  FROM $table WHERE $pred)
         |SELECT g,
         |  CAST(sum(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      ${folded(s"list_transform(arr, x -> $nullify)", "list_filter")}),
         |    (acc, x) -> acc * 31 + coalesce(x, 7))) AS BIGINT) AS s_fold,
         |  CAST(sum(list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(generate_series(1, len(arr)),
         |        i -> arr[i] * arr[len(arr) + 1 - i])),
         |    (acc, v) -> acc + v)) AS BIGINT) AS s_dot,
         |  CAST(sum(len(list_filter(arr, x -> x % $k2 = 0))) AS BIGINT) AS s_mod,
         |  count(*) AS n
         |FROM b GROUP BY g ORDER BY g""".stripMargin
    SplitQuery(spark, duck)
  }

  /** Map-typed higher-order-lambda fuzz (split texts): seeded
    * compositions of `transform_keys` / `transform_values` /
    * `map_filter` / `map_zip_with` over maps built by
    * `map_from_arrays` under the LAST_WIN dedup policy, vs a DuckDB
    * list-level replay — the MAP corners the array family (q_fuzzho)
    * cannot reach and the fixed gates (`FinalQueries.scala`) only pin
    * at one shape: DUPLICATE source keys resolved last-win (the key
    * list is folded through `x % km` with km ≤ array width, so dups
    * are guaranteed), NULL values flowing through every map lambda
    * (`coalesce` inside the lambda body), a `map_filter` →
    * `transform_values` composition, and `map_zip_with` across two
    * maps with PARTIALLY overlapping key domains (different key
    * moduli), where the absent side's lambda argument is NULL.
    *
    * DuckDB has no map HOFs, so the twin replays the semantics on the
    * generating LISTS: last-win dedup = the positions whose key does
    * not recur later (`NOT list_contains(list_slice(kl, i+1, len), kl[i])`
    * — exactly the entries a last-win map keeps), and the zip's
    * by-key lookup = `vlf2[list_position(klf2, k)]` (NULL when the
    * key is absent, mirroring the absent-side NULL argument).  Sum
    * aggregation makes entry ORDER irrelevant, so the two engines'
    * map iteration orders never matter.  Everything is integer and
    * bounded: ≤ 7 entries of values < 100 over dim-table-sized row
    * counts, so no sum approaches 2^63 at any corpus scale.  Only
    * scalars reach the output (never raw maps — the driver compare
    * contract).
    */
  private def genMapHofQuery(seed: Long): SplitQuery = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val pred = genPred(r, cols, 1)
    val m = r.next(5) + 2   // group modulus
    val m1 = r.next(5) + 2  // array start modulus
    val w = r.next(4) + 3   // extra elements (array size w+1 in 4..7)
    val km = r.next(4) + 3  // map-1 key fold modulus (3..6 ⇒ dup keys)
    val c1 = r.next(7) + 2  // map-1 value multiplier
    val c2 = r.next(9)      // map-1 value offset
    val nk = r.next(3) + 2  // null-injection modulus for map-1 values
    val a2 = r.next(5) + 2  // transform_keys multiplier
    val b2 = r.next(7)      // transform_keys offset
    val f2 = r.next(3) + 2  // map_filter key modulus
    val km2 = r.next(4) + 2 // map-2 key fold modulus (partial overlap)
    val c3 = r.next(7) + 3  // map-2 value multiplier
    val vExpr = s"CASE WHEN x % $nk = 0 THEN NULL " +
      s"ELSE CAST((x * $c1 + $c2) % 97 AS BIGINT) END"
    val v2Expr = s"CAST((x * $c3 + 11) % 89 AS BIGINT)"
    val spark =
      s"""WITH b AS (
         |  SELECT ($key % $m) AS g,
         |    map_from_arrays(
         |      transform(sequence($key % $m1, $key % $m1 + $w),
         |        x -> CAST(x % $km AS BIGINT)),
         |      transform(sequence($key % $m1, $key % $m1 + $w),
         |        x -> $vExpr)) AS mp,
         |    map_from_arrays(
         |      transform(sequence($key % $m1, $key % $m1 + $w),
         |        x -> CAST(x % $km2 AS BIGINT)),
         |      transform(sequence($key % $m1, $key % $m1 + $w),
         |        x -> $v2Expr)) AS mp2
         |  FROM $table WHERE $pred)
         |SELECT g,
         |  CAST(sum(cardinality(mp)) AS BIGINT) AS card,
         |  CAST(sum(aggregate(
         |    map_keys(transform_keys(mp, (k, v) -> k * $a2 + $b2)),
         |    CAST(0 AS BIGINT), (acc, x) -> acc + x)) AS BIGINT) AS s_tk,
         |  CAST(sum(aggregate(
         |    map_values(transform_values(mp, (k, v) -> coalesce(v, CAST(7 AS BIGINT)) + k)),
         |    CAST(0 AS BIGINT), (acc, x) -> acc + x)) AS BIGINT) AS s_tv,
         |  CAST(sum(aggregate(
         |    map_values(transform_values(map_filter(mp, (k, v) -> k % $f2 = 0),
         |      (k, v) -> k + coalesce(v, CAST(3 AS BIGINT)))),
         |    CAST(0 AS BIGINT), (acc, x) -> acc + x)) AS BIGINT) AS s_mf,
         |  CAST(sum(aggregate(
         |    map_values(map_zip_with(mp, mp2, (k, v1, v2) ->
         |      coalesce(v1, CAST(0 AS BIGINT)) + coalesce(v2, CAST(0 AS BIGINT)) + k)),
         |    CAST(0 AS BIGINT), (acc, x) -> acc + x)) AS BIGINT) AS s_mz,
         |  count(*) AS n
         |FROM b GROUP BY g ORDER BY g""".stripMargin
    val duck =
      s"""WITH b AS (
         |  SELECT ($key % $m) AS g,
         |    list_transform(generate_series($key % $m1, $key % $m1 + $w),
         |      x -> CAST(x % $km AS BIGINT)) AS kl,
         |    list_transform(generate_series($key % $m1, $key % $m1 + $w),
         |      x -> $vExpr) AS vl,
         |    list_transform(generate_series($key % $m1, $key % $m1 + $w),
         |      x -> CAST(x % $km2 AS BIGINT)) AS kl2,
         |    list_transform(generate_series($key % $m1, $key % $m1 + $w),
         |      x -> $v2Expr) AS vl2
         |  FROM $table WHERE $pred),
         |d AS (
         |  SELECT g, kl, vl,
         |    list_filter(generate_series(1, len(kl)),
         |      i -> NOT list_contains(list_slice(kl, i + 1, len(kl)), kl[i])) AS surv,
         |    list_transform(list_filter(generate_series(1, len(kl2)),
         |      j -> NOT list_contains(list_slice(kl2, j + 1, len(kl2)), kl2[j])),
         |      j -> kl2[j]) AS klf2,
         |    list_transform(list_filter(generate_series(1, len(kl2)),
         |      j -> NOT list_contains(list_slice(kl2, j + 1, len(kl2)), kl2[j])),
         |      j -> vl2[j]) AS vlf2
         |  FROM b)
         |SELECT g,
         |  CAST(sum(len(surv)) AS BIGINT) AS card,
         |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(surv, i -> kl[i] * $a2 + $b2)),
         |    (acc, x) -> acc + x)) AS BIGINT) AS s_tk,
         |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(surv, i -> coalesce(vl[i], 7) + kl[i])),
         |    (acc, x) -> acc + x)) AS BIGINT) AS s_tv,
         |  CAST(sum(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(list_filter(surv, i -> kl[i] % $f2 = 0),
         |      i -> kl[i] + coalesce(vl[i], 3))),
         |    (acc, x) -> acc + x)) AS BIGINT) AS s_mf,
         |  CAST(sum(
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(surv, i -> coalesce(vl[i], 0) +
         |        coalesce(vlf2[list_position(klf2, kl[i])], 0) + kl[i])),
         |      (acc, x) -> acc + x) +
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(
         |        list_filter(generate_series(1, len(klf2)),
         |          j -> NOT list_contains(list_transform(surv, i -> kl[i]), klf2[j])),
         |        j -> vlf2[j] + klf2[j])),
         |      (acc, x) -> acc + x)) AS BIGINT) AS s_mz,
         |  count(*) AS n
         |FROM d GROUP BY g ORDER BY g""".stripMargin
    SplitQuery(spark, duck)
  }

  /** LATERAL fuzz: a correlated lateral AGGREGATE subquery referencing
    * the outer row's key — the LateralJoin decorrelation path, distinct
    * from the scalar-subquery rewrite q_fuzzc exercises.  The lateral
    * body is a scalar aggregate, so it returns exactly one row per
    * outer row on both engines (count over an empty slice is 0, max is
    * NULL — coalesced before output so no nullable BIGINT reaches the
    * pandas compare).
    */
  private def genLateralQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (ot, ocols, okey, it, icols, ifk) = r.pick(corrPairs)
    val outerPred = genPred(r, ocols, 1)
    val innerPred = genPred(r, icols, 1)
    val a1 = genArith(r, icols, 1)
    s"""SELECT o.k, l.c, l.mx
       |FROM (SELECT $okey AS k FROM $ot WHERE $outerPred) o,
       |LATERAL (
       |  SELECT count(*) AS c,
       |    CAST(coalesce(max($a1), -1) AS BIGINT) AS mx
       |  FROM $it i
       |  WHERE i.$ifk = o.k AND $innerPred) l
       |ORDER BY o.k""".stripMargin
  }

  /** Recursive-CTE fuzz: a bounded WITH RECURSIVE spine (fixed depth
    * 4..8, integer affine recurrence `acc' = (acc·a + b) % m` on
    * non-negative operands — exact and bounded in both engines), then
    * a LEFT JOIN of real table rows onto spine levels by key modulus
    * and a grouped aggregate.  Differentially covers the recursion
    * driver (anchor typing, per-step union, termination predicate)
    * against DuckDB's, which the hand-written recursive gates pin only
    * at fixed shapes.  UNION ALL + explicit `lvl < depth` bound keeps
    * termination engine-independent; all outputs BIGINT-cast; LEFT
    * JOIN aggregates coalesced (-1) so empty levels stay non-null.
    */
  private def genRecursiveQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val depth = r.next(5) + 4
    val a = r.next(5) + 2
    val b = r.next(7)
    val m = r.next(50) + 20
    val start = r.next(5)
    val pred = genPred(r, cols, 1)
    val a1 = genArith(r, cols, 1)
    s"""WITH RECURSIVE spine (lvl, acc) AS (
       |  SELECT 0, CAST($start AS BIGINT)
       |  UNION ALL
       |  SELECT lvl + 1, (acc * $a + $b) % $m FROM spine WHERE lvl < $depth
       |)
       |SELECT CAST(s.lvl AS BIGINT) AS lvl, s.acc,
       |  CAST(coalesce(sum($a1), -1) AS BIGINT) AS s1,
       |  count(t.$key) AS n
       |FROM spine s LEFT JOIN (SELECT * FROM $table WHERE $pred) t
       |  ON (t.$key % ${depth + 1}) = s.lvl
       |GROUP BY s.lvl, s.acc
       |ORDER BY lvl""".stripMargin
  }

  /** Window-FRAME fuzz: explicit ROWS and RANGE frames with GENUINE
    * ties in the order key (`v1 % tieMod`), the dialect corner no
    * other family composes.  RANGE frames are peer-inclusive — ties
    * make them value-deterministic with no tiebreak needed; ROWS
    * frames are position-based — the unique key k is always appended
    * to their ORDER BY so the frame contents are pinned.  One frame is
    * strictly-ahead (`f1+1 FOLLOWING AND f1+2 FOLLOWING`), which goes
    * EMPTY at partition tails — sum NULL → coalesce(-1) covers the
    * empty-frame corner.  Window input is a GROUPED aggregate (the
    * keyed-window scale contract) and every window sum is BIGINT-cast
    * (DuckDB window sums return HUGEINT).
    */
  private def genFrameQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (table, cols, key) = r.pick(tables)
    val a1 = genArith(r, cols, 2)
    val pred = genPred(r, cols, 2)
    val part = r.next(4) + 2
    val tieMod = r.next(4) + 2
    val rp = r.next(3)      // ROWS preceding 0..2
    val rf = r.next(3)      // ROWS following 0..2
    val vp = r.next(4)      // RANGE preceding 0..3
    val vf = r.next(4)      // RANGE following 0..3
    val f1 = r.next(2) + 1  // ahead-frame start offset
    s"""WITH base AS (
       |  SELECT $key AS k,
       |    CAST(sum($a1) AS BIGINT) AS v1,
       |    count(*) AS c
       |  FROM $table
       |  WHERE $pred
       |  GROUP BY $key)
       |SELECT k, v1, c,
       |  CAST(sum(v1) OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod), k
       |    ROWS BETWEEN $rp PRECEDING AND $rf FOLLOWING) AS BIGINT) AS rsum,
       |  CAST(count(*) OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod)
       |    RANGE BETWEEN $vp PRECEDING AND $vf FOLLOWING) AS BIGINT) AS vcnt,
       |  CAST(sum(c) OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod)
       |    RANGE BETWEEN $vp PRECEDING AND $vf FOLLOWING) AS BIGINT) AS vsum,
       |  CAST(min(v1) OVER (PARTITION BY (k % $part) ORDER BY (v1 % $tieMod)
       |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vmin,
       |  CAST(coalesce(sum(v1) OVER (PARTITION BY (k % $part)
       |    ORDER BY (v1 % $tieMod), k
       |    ROWS BETWEEN ${f1 + 1} FOLLOWING AND ${f1 + 2} FOLLOWING), -1)
       |    AS BIGINT) AS ahead
       |FROM base
       |ORDER BY k""".stripMargin
  }

  /** Composition fuzz — the "top-k per group, then enrich" pipeline
    * every analyst writes: grouped aggregate → rank() over a modular
    * partition → filter rank <= j (rank keeps ALL tied rows, a
    * deterministic SET on both engines even where row_number would be
    * an engine lottery) → join the survivors back to a dim table.
    * Exercises optimizer interactions between aggregation, windows,
    * filters over window output, and joins that the single-shape
    * families never compose.  Final ORDER BY ends on the unique key.
    */
  private def genCompositionQuery(seed: Long): String = {
    val r = new Rng(seed)
    val (t1, cols1, t2, cols2, on) = r.pick(joinPairs)
    val Array(leftKey, rightKey) = on.split(" = ")
    val a1 = genArith(r, cols1, 2)
    val pred = genPred(r, cols1, 1)
    val part = r.next(3) + 2
    val tieMod = r.next(4) + 2
    val topJ = r.next(2) + 1
    val rcol = r.pick(cols2)
    // rank over the GROUPED frame (group-count-sized window input);
    // the agg key IS the join key, so the enrich join stays equi
    s"""WITH agg AS (
       |  SELECT $leftKey AS k,
       |    CAST(sum($a1) AS BIGINT) AS v,
       |    count(*) AS c
       |  FROM $t1
       |  WHERE $pred
       |  GROUP BY $leftKey),
       |ranked AS (
       |  SELECT k, v, c,
       |    rank() OVER (PARTITION BY (k % $part) ORDER BY (v % $tieMod)) AS rk
       |  FROM agg),
       |topk AS (SELECT k, v, c, rk FROM ranked WHERE rk <= $topJ)
       |SELECT t.k, t.v, t.c, t.rk,
       |  coalesce(CAST(max(j.$rcol) AS BIGINT), -1) AS rmax,
       |  count(j.$rcol) AS rn
       |FROM topk t LEFT JOIN $t2 j ON t.k = j.$rightKey
       |GROUP BY t.k, t.v, t.c, t.rk
       |ORDER BY t.k""".stripMargin
  }

  /** Mutation fuzz over the v2 row-level surface: a generated base
    * aggregate materializes into a MemCatalog table, then a random
    * UPDATE and a random DELETE-or-MERGE run as SQL through the
    * group-based rewrite pipeline (RewriteUpdateTable /
    * RewriteDeleteFromTable / RewriteMergeIntoTable → ReplaceData),
    * and the final table state is compared against a DuckDB oracle
    * that REPLAYS the same mutation algebra as pure SELECT CTEs —
    * the generator emits both sides from one seed, so the differential
    * covers arbitrary predicates, not the three hand-picked ones in
    * CatalogQueries.  MERGE sources GROUP BY their key, so the
    * one-match-per-row cardinality contract holds by construction.
    */
  private final case class MutationScript(
      ddl: Seq[String], finalSelect: String, oracleSelect: String)

  private def genMutationScript(seed: Long, slot: Int): MutationScript = {
    val r = new Rng(seed)
    val (bt, bcols, bkey) = r.pick(tables)
    val kMod = r.next(6) + 4
    val basePred = genPred(r, bcols, 1)
    val baseVal = genArith(r, bcols, 1)
    val tbl = s"graft_cat.ns.fm_$slot"
    // mutation 1: arithmetic UPDATE on a key-modular slice
    val (um, ud, up, uq) = (r.next(3) + 1, r.next(9), r.next(4) + 2, r.next(2))
    // mutation 2: DELETE or MERGE
    val useMerge = r.next(2) == 1
    val (dp, dq) = (r.next(5) + 2, r.next(2))
    val (mt, mcols, mkey) = r.pick(tables)
    val mergePred = genPred(r, mcols, 1)
    val base =
      s"""SELECT ($bkey % $kMod) AS k,
         |  CAST(sum($baseVal) AS BIGINT) AS v,
         |  count(*) AS c
         |FROM $bt WHERE $basePred GROUP BY ($bkey % $kMod)""".stripMargin
    val src =
      s"""SELECT ($mkey % $kMod) AS k, count(*) AS dv
         |FROM $mt WHERE $mergePred GROUP BY ($mkey % $kMod)""".stripMargin
    val mut2 =
      if (useMerge)
        s"""MERGE INTO $tbl t
           |USING ($src) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = t.v + s.dv
           |WHEN NOT MATCHED THEN INSERT (k, v, c) VALUES (s.k + 100, s.dv, 0)""".stripMargin
      else s"DELETE FROM $tbl WHERE k % $dp = $dq"
    val ddl = Seq(
      "CREATE NAMESPACE IF NOT EXISTS graft_cat.ns",
      s"DROP TABLE IF EXISTS $tbl",
      s"CREATE TABLE $tbl (k BIGINT, v BIGINT, c BIGINT)",
      s"INSERT INTO $tbl\n$base",
      s"UPDATE $tbl SET v = v * $um + $ud WHERE k % $up = $uq",
      mut2)
    // Read back EVERY snapshot, not just the final state: MemCatalog
    // commits a snapshot per write (v1 = insert, v2 = update, current
    // = after mut2 — copy-on-write commits even when a mutation
    // matched zero rows), so `VERSION AS OF` must serve each
    // intermediate state exactly and the oracle replays the same
    // algebra per snapshot — differential coverage of snapshot
    // isolation under the random mutation algebra, not just of the
    // final rows.
    val finalSelect =
      s"""SELECT CAST(1 AS BIGINT) AS ver, k, v, c
         |FROM $tbl VERSION AS OF 1
         |UNION ALL
         |SELECT 2, k, v, c FROM $tbl VERSION AS OF 2
         |UNION ALL
         |SELECT 3, k, v, c FROM $tbl
         |ORDER BY ver, k, v, c""".stripMargin
    val m2Cte =
      if (useMerge)
        s"""src AS ($src),
           |m2 AS (
           |  SELECT t.k,
           |    CAST(CASE WHEN s.k IS NOT NULL THEN t.v + s.dv ELSE t.v END
           |      AS BIGINT) AS v,
           |    t.c
           |  FROM m1 t LEFT JOIN src s ON t.k = s.k
           |  UNION ALL
           |  SELECT s.k + 100, CAST(s.dv AS BIGINT), CAST(0 AS BIGINT)
           |  FROM src s LEFT JOIN m1 t ON t.k = s.k
           |  WHERE t.k IS NULL
           |)""".stripMargin
      else
        s"""m2 AS (SELECT k, v, c FROM m1 WHERE NOT (k % $dp = $dq))""".stripMargin
    val oracleSelect =
      s"""WITH base AS ($base),
         |m1 AS (SELECT k,
         |  CAST(CASE WHEN k % $up = $uq THEN v * $um + $ud ELSE v END
         |    AS BIGINT) AS v, c FROM base),
         |$m2Cte
         |SELECT CAST(1 AS BIGINT) AS ver, k, v, c FROM base
         |UNION ALL
         |SELECT 2, k, v, c FROM m1
         |UNION ALL
         |SELECT 3, k, v, c FROM m2
         |ORDER BY ver, k, v, c""".stripMargin
    MutationScript(ddl, finalSelect, oracleSelect)
  }

  /** Frozen seed per slot; a slot's seed is bumped (never reused) when
    * its query returns zero rows at the gate SF — empty==empty proves
    * nothing, so every entry must select data.
    */
  private val seeds: Seq[Long] = Seq(1L, 2L, 3L, 24L, 5L, 6L, 17L, 8L, 9L, 16L)
  // 32 selected nothing at the sf0.001 down-scale rung (probed 20–40
  // at all three rungs in round 15); 37 selects rows at every rung
  private val joinSeeds: Seq[Long] = Seq(31L, 37L, 33L, 34L, 45L)
  private val windowSeeds: Seq[Long] = Seq(57L, 52L, 53L, 54L)
  private val setSeeds: Seq[Long] = Seq(64L, 69L, 160L, 161L)
  private val outerSeeds: Seq[Long] = Seq(71L, 72L, 73L)
  private val decimalSeeds: Seq[Long] = Seq(81L, 82L, 87L)
  private val corrSeeds: Seq[Long] = Seq(91L, 92L, 93L, 94L)
  private val groupingSeeds: Seq[Long] = Seq(101L, 106L, 103L, 104L)
  private val stringSeeds: Seq[Long] = Seq(111L, 112L, 113L, 114L)
  private val mutationSeeds: Seq[Long] = Seq(121L, 122L, 123L, 124L)
  private val temporalSeeds: Seq[Long] = Seq(131L, 132L, 136L, 134L)
  private val compositionSeeds: Seq[Long] = Seq(145L, 146L, 143L, 144L)
  private val lateralSeeds: Seq[Long] = Seq(151L, 152L, 153L, 154L)
  private val recursiveSeeds: Seq[Long] = Seq(161L, 162L, 163L, 164L, 165L)
  private val pipeSeeds: Seq[Long] = Seq(181L, 186L, 183L, 184L)
  private val generatorSeeds: Seq[Long] = Seq(191L, 192L, 195L, 194L)
  private val jsonSeeds: Seq[Long] = Seq(201L, 202L, 203L, 204L)
  // 212/215 selected nothing (probed 211–240 at sf0.001/0.01/0.1 — the
  // EMPTY-slot protocol); 216/224 select ≥5 rows at every rung
  private val higherOrderSeeds: Seq[Long] = Seq(211L, 216L, 213L, 214L, 224L)
  // probed 241-270 at sf0.001 (the constraining rung — the EMPTY-slot
  // protocol) and spot-checked at sf0.01/sf0.1: these five select 4-6
  // groups at every rung (group counts are modulus-bounded over dim
  // tables, so the counts are rung-stable by construction)
  private val mapHofSeeds: Seq[Long] = Seq(242L, 247L, 250L, 255L, 266L)
  private val frameSeeds: Seq[Long] = Seq(171L, 172L, 173L, 174L, 178L)

  private val sql: Map[String, String] =
    seeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzz_${i + 1}%02d" -> genQuery(0xD1FF00D5L * s)
    }.toMap ++
    joinSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzj_${i + 1}%02d" -> genJoinQuery(0xD1FF00D5L * s)
    }.toMap ++
    windowSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzw_${i + 1}%02d" -> genWindowQuery(0xD1FF00D5L * s)
    }.toMap ++
    setSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzs_${i + 1}%02d" -> genSetQuery(0xD1FF00D5L * s)
    }.toMap ++
    outerSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzo_${i + 1}%02d" -> genOuterChainQuery(0xD1FF00D5L * s)
    }.toMap ++
    decimalSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzd_${i + 1}%02d" -> genDecimalQuery(0xD1FF00D5L * s)
    }.toMap ++
    corrSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzc_${i + 1}%02d" -> genCorrelatedQuery(0xD1FF00D5L * s)
    }.toMap ++
    groupingSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzg_${i + 1}%02d" -> genGroupingQuery(0xD1FF00D5L * s)
    }.toMap ++
    stringSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzh_${i + 1}%02d" -> genStringQuery(0xD1FF00D5L * s)
    }.toMap ++
    compositionSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzn_${i + 1}%02d" -> genCompositionQuery(0xD1FF00D5L * s)
    }.toMap ++
    lateralSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzl_${i + 1}%02d" -> genLateralQuery(0xD1FF00D5L * s)
    }.toMap ++
    recursiveSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzr_${i + 1}%02d" -> genRecursiveQuery(0xD1FF00D5L * s)
    }.toMap ++
    frameSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzf_${i + 1}%02d" -> genFrameQuery(0xD1FF00D5L * s)
    }.toMap

  private val mutationScripts: Map[String, MutationScript] =
    mutationSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzm_${i + 1}%02d" -> genMutationScript(0xD1FF00D5L * s, i + 1)
    }.toMap

  private val temporalSplits: Map[String, SplitQuery] =
    temporalSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzt_${i + 1}%02d" -> genTemporalQuery(0xD1FF00D5L * s)
    }.toMap ++
    pipeSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzp_${i + 1}%02d" -> genPipeQuery(0xD1FF00D5L * s)
    }.toMap ++
    generatorSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzze_${i + 1}%02d" -> genGeneratorQuery(0xD1FF00D5L * s)
    }.toMap ++
    jsonSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzx_${i + 1}%02d" -> genJsonQuery(0xD1FF00D5L * s)
    }.toMap ++
    higherOrderSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzho_${i + 1}%02d" -> genHigherOrderQuery(0xD1FF00D5L * s)
    }.toMap

  /** Map-HOF splits run under LAST_WIN map-key dedup (the dup-key
    * corner is the point), so they carry their own closure that sets
    * the session conf before the query.
    */
  private val mapHofSplits: Map[String, SplitQuery] =
    mapHofSeeds.zipWithIndex.map { case (s, i) =>
      f"q_fuzzhm_${i + 1}%02d" -> genMapHofQuery(0xD1FF00D5L * s)
    }.toMap

  val queries: Map[String, Q] = sql.map { case (name, text) =>
    name -> (((s: SparkSession, dir: String) => {
      Tables.registerAll(s, dir)
      s.sql(text)
    }): Q)
  } ++ mutationScripts.map { case (name, script) =>
    name -> (((s: SparkSession, dir: String) => {
      Tables.registerAll(s, dir)
      script.ddl.foreach(s.sql(_)) // commands execute eagerly
      s.sql(script.finalSelect)
    }): Q)
  } ++ temporalSplits.map { case (name, split) =>
    name -> (((s: SparkSession, dir: String) => {
      Tables.registerAll(s, dir)
      s.sql(split.spark)
    }): Q)
  } ++ mapHofSplits.map { case (name, split) =>
    name -> (((s: SparkSession, dir: String) => {
      Tables.registerAll(s, dir)
      s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      s.sql(split.spark)
    }): Q)
  }

  val oracle: Map[String, String] =
    sql ++ mutationScripts.map { case (n, sc) => n -> sc.oracleSelect } ++
      temporalSplits.map { case (n, sp) => n -> sp.duck } ++
      mapHofSplits.map { case (n, sp) => n -> sp.duck }

  /** Seed-selection probe (maintenance tool, not a gate): row counts
    * for candidate seeds of one generator family, so an EMPTY slot's
    * seed can be bumped to one that selects data at every gate SF.
    */
  private[graft] def probeSeeds(s: SparkSession, dir: String,
      family: String, candidates: Seq[Long]): Seq[(Long, Long)] = {
    Tables.registerAll(s, dir)
    s.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN") // the hm family's contract
    val gen: Long => String = family match {
      case "w" => genWindowQuery
      case "s" => genSetQuery
      case "o" => genOuterChainQuery
      case "d" => genDecimalQuery
      case "j" => genJoinQuery
      case "c" => genCorrelatedQuery
      case "g" => genGroupingQuery
      case "h" => genStringQuery
      case "t" => (s: Long) => genTemporalQuery(s).spark
      case "n" => genCompositionQuery
      case "l" => genLateralQuery
      case "r" => genRecursiveQuery
      case "f" => genFrameQuery
      case "p" => (s: Long) => genPipeQuery(s).spark
      case "e" => (s: Long) => genGeneratorQuery(s).spark
      case "x" => (s: Long) => genJsonQuery(s).spark
      case "ho" => (s: Long) => genHigherOrderQuery(s).spark
      case "hm" => (s: Long) => genMapHofQuery(s).spark
      case _   => genQuery
    }
    candidates.map(c =>
      c -> (try s.sql(gen(0xD1FF00D5L * c)).count()
            catch { case scala.util.control.NonFatal(_) => -1L }))
  }
}
