package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.lineage.ColumnLineage

/** Lineage surfaced through the driver contract: compute the column
  * lineage of a representative multi-operator query (join + aggregate +
  * derived expressions) and return the edge list, normalized to bare
  * table names so output is scale-factor-directory independent.
  * Rows-only check (lineage is not SQL-expressible in DuckDB); exact
  * edge semantics are golden-tested in LineageSpec.
  */
object LineageQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q_lineage_edges" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          countDistinct(col("o_custkey")).as("n_cust"))
      val edges = ColumnLineage.of(q).toDF(s)
      edges.withColumn("src_table",
          regexp_extract(col("src_table"), "([a-z]+)\\.parquet", 1))
        .orderBy(col("out_column"), col("src_table"), col("src_column"))
    },

    // Lineage through the two flagship ops compositions — the walk the
    // reference cannot do (it pass-throughs anything non-stock):
    // minhashPairs ends in a lineage-erasing localCheckpoint (the
    // registry splices the pre-checkpoint lineage back), bm25TopK runs
    // explode + 4 aggregates + 3 joins + the custom TopKPerKey plan.
    // qid is documents.doc_id RENAMED into the query frame, so its
    // edge proves renames survive the whole funnel; count(*)-derived
    // scores carry no direct column sources and emit no edges.
    "q_lineage_ops" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 60)
      val qs = Tables.load(s, dir, "documents").filter(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          substring(col("text"), 1, 40).as("qtext"))
      val bm = graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 3)
      val mh = graft.ops.Dedup.minhashPairs(
        graft.ops.Layout.fanOut(docs.select(col("doc_id"), col("text"))),
        "doc_id", "text", threshold = 0.5)
      val edges = ColumnLineage.of(bm).toDF(s)
          .withColumn("op", lit("bm25"))
        .unionByName(ColumnLineage.of(mh).toDF(s)
          .withColumn("op", lit("minhash")))
      edges.withColumn("src_table",
          regexp_extract(col("src_table"), "([a-z]+)\\.parquet", 1))
        .select(col("op"), col("out_column"), col("src_table"),
          col("src_column"))
        .orderBy(col("op"), col("out_column"), col("src_table"),
          col("src_column"))
    },

    // CONTROL-FLOW lineage mode (opt-in): the same join + aggregate
    // query as q_lineage_edges, but with includeControlFlow = true the
    // join predicate's key columns (l_orderkey, o_orderkey) and the
    // filter's date column flow into EVERY surviving output — a row's
    // PRESENCE derives from them.  The golden pins both that the new
    // edges appear and that data-flow edges are unchanged.
    "q_lineage_cf" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val ord = Tables.load(s, dir, "orders")
      val q = li.filter(col("l_shipdate") > lit("1995-06-01"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_extendedprice")).as("revenue"))
      val edges = ColumnLineage.of(q, includeControlFlow = true).toDF(s)
      edges.withColumn("src_table",
          regexp_extract(col("src_table"), "([a-z]+)\\.parquet", 1))
        .orderBy(col("out_column"), col("src_table"), col("src_column"))
    },

    // HOP-level lineage: the flat edge list of the derivation DAG —
    // every intermediate named derivation (renames included), its
    // deriving expression's SQL text, the plan node kind, and its
    // input (upstream hop name or physical leaf column).  This is the
    // reference's `Column extends TreeNode[Column]` fidelity
    // (`catalyst/lineage/ExpressionColumn.scala:22`) that the closure
    // view flattens away; the edge list is a deterministic function of
    // the plan, so the oracle is the golden edge set itself.
    "q_lineage_hops" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val q = docs
        .select(col("doc_id"), (col("doc_id") + lit(1L)).as("k1"),
          substring(col("text"), 1, 8).as("s1"))
        .select((col("k1") * lit(2L)).as("k2"), upper(col("s1")).as("s2"),
          col("doc_id").as("id"))
      ColumnLineage.hopEdges(q)
        .toDF("out_column", "expr", "node", "input")
        .withColumn("input",
          regexp_replace(col("input"), "^.*/([a-z]+)\\.parquet\\.", "$1."))
        .orderBy(col("out_column"), col("expr"), col("node"), col("input"))
    },

    // SINK-side (write-path) lineage: a CTAS materializes a lineitem
    // aggregate into a catalog table, the write's lineage is captured
    // keyed by the table's storage location (the CTAS replaces any
    // earlier entry there), and a fresh read of that table —
    // whose plan is just a parquet scan, where the reference (and any
    // plain plan walk) loses the trail — traces its derived columns
    // all the way back to lineitem through the materialization.  An
    // INSERT INTO append from a second query then proves append-UNION
    // semantics: flag gains the orders edge while keeping lineitem's.
    "q_lineage_sink" -> { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_sink_rev")
      val ctas = s.sql(
        """CREATE TABLE graft_sink_rev USING parquet AS
          |SELECT l_returnflag AS flag,
          |  CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      graft.lineage.SinkLineage.capture(ctas.queryExecution)
      val ins = s.sql(
        """INSERT INTO graft_sink_rev
          |SELECT concat('o_', o_orderstatus), CAST(count(*) AS DOUBLE)
          |FROM orders GROUP BY o_orderstatus""".stripMargin)
      graft.lineage.SinkLineage.capture(ins.queryExecution)
      // fresh read through the metastore + a further derivation
      val q = s.table("graft_sink_rev")
        .select(col("flag"), (col("revenue") * lit(2)).as("rev2"))
      // sources resolve through the registered temp VIEWS, so they are
      // already bare table names ("lineitem") — no path normalization
      ColumnLineage.of(q).toDF(s)
        .orderBy(col("out_column"), col("src_table"), col("src_column"))
    },

    // Lineage of a RUNNING streaming query, captured through the
    // standard listener bus (StreamingLineage.LineageListener): events
    // replayed as a file stream, stream-static joined to the customer
    // dim, aggregated — the sink's columns must trace the stream side
    // to the live FileStreamSource and the static side to the parquet
    // dim, with count(*)-derived n carrying no edges.  The reference's
    // lineage is an analyzer rule batch plans pass through; streaming
    // plans never reach it at all.
    "q_lineage_stream" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id") < 500)
        .select(col("user_id"), col("event_type"), col("value"))
      val tmp = graft.TmpCleanup.tempDir("graft_lineage_replay")
      ev.repartition(2).write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(tmp)
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = stream.join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("event_type"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      val listener = new graft.lineage.StreamingLineage.LineageListener(s)
      s.streams.addListener(listener)
      // 4 state-store partitions for the eager replay (the streaming-
      // gate convention: per-trigger cost is state-store instances, not
      // rows); the session default is restored after
      val graph =
        GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "4") {
          val q = joined.writeStream.format("memory")
            .queryName(s"lineage_stream_${streamRun.incrementAndGet()}")
            .outputMode("complete").start()
          try {
            q.processAllAvailable()
            // the listener's async snapshot, when it has drained, is
            // byte-identical to the direct walk of the running plan —
            // fall back to the walk so the gate never races the bus
            listener.graphOf(q.runId)
              .getOrElse(graft.lineage.StreamingLineage.ofQuery(q))
          } finally { q.stop(); s.streams.removeListener(listener) }
        }
      graph.toDF(s)
        .withColumn("src_table",
          when(col("src_table").startsWith("FileStreamSource["),
            lit("events_stream"))
            .otherwise(regexp_extract(col("src_table"),
              "([a-z]+)\\.parquet", 1)))
        .orderBy(col("out_column"), col("src_table"), col("src_column"))
    })

  private val streamRun = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The edge list is a deterministic function of the plan, so the
    * oracle is the golden edge set itself — the driver hash proves the
    * lineage walker resolves join + aggregate + expression inputs to
    * exactly these physical columns.
    */
  val oracle: Map[String, String] = Map(
    "q_lineage_edges" ->
      """SELECT * FROM (VALUES
        |  ('n_cust', 'orders', 'o_custkey'),
        |  ('o_orderstatus', 'orders', 'o_orderstatus'),
        |  ('revenue', 'lineitem', 'l_discount'),
        |  ('revenue', 'lineitem', 'l_extendedprice'))
        |  AS t(out_column, src_table, src_column)
        |ORDER BY out_column, src_table, src_column""".stripMargin,

    "q_lineage_ops" ->
      """SELECT * FROM (VALUES
        |  ('bm25', 'doc_id', 'documents', 'doc_id'),
        |  ('bm25', 'qid', 'documents', 'doc_id'),
        |  ('minhash', 'id_a', 'documents', 'doc_id'),
        |  ('minhash', 'id_b', 'documents', 'doc_id'),
        |  ('minhash', 'jaccard', 'documents', 'text'))
        |  AS t(op, out_column, src_table, src_column)
        |ORDER BY op, out_column, src_table, src_column""".stripMargin,

    "q_lineage_cf" ->
      """SELECT * FROM (VALUES
        |  ('o_orderstatus', 'lineitem', 'l_orderkey'),
        |  ('o_orderstatus', 'lineitem', 'l_shipdate'),
        |  ('o_orderstatus', 'orders', 'o_orderkey'),
        |  ('o_orderstatus', 'orders', 'o_orderstatus'),
        |  ('revenue', 'lineitem', 'l_extendedprice'),
        |  ('revenue', 'lineitem', 'l_orderkey'),
        |  ('revenue', 'lineitem', 'l_shipdate'),
        |  ('revenue', 'orders', 'o_orderkey'))
        |  AS t(out_column, src_table, src_column)
        |ORDER BY out_column, src_table, src_column""".stripMargin,

    "q_lineage_hops" ->
      """SELECT * FROM (VALUES
        |  ('id', 'doc_id', 'Project', 'documents.doc_id'),
        |  ('k1', '(doc_id + 1L)', 'Project', 'documents.doc_id'),
        |  ('k2', '(k1 * 2L)', 'Project', 'k1'),
        |  ('s1', 'substring(text, 1, 8)', 'Project', 'documents.text'),
        |  ('s2', 'upper(s1)', 'Project', 's1'))
        |  AS t(out_column, expr, node, input)
        |ORDER BY out_column, expr, node, input""".stripMargin,

    "q_lineage_sink" ->
      """SELECT * FROM (VALUES
        |  ('flag', 'lineitem', 'l_returnflag'),
        |  ('flag', 'orders', 'o_orderstatus'),
        |  ('rev2', 'lineitem', 'l_discount'),
        |  ('rev2', 'lineitem', 'l_extendedprice'))
        |  AS t(out_column, src_table, src_column)
        |ORDER BY out_column, src_table, src_column""".stripMargin,

    "q_lineage_stream" ->
      """SELECT * FROM (VALUES
        |  ('c_mktsegment', 'customer', 'c_mktsegment'),
        |  ('event_type', 'events_stream', 'event_type'),
        |  ('total', 'events_stream', 'value'))
        |  AS t(out_column, src_table, src_column)
        |ORDER BY out_column, src_table, src_column""".stripMargin)
}
