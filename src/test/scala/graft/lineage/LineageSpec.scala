package graft.lineage

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.lineage.ColumnLineage.SourceColumn

/** Golden column-lineage tests — the coverage the reference lacks
  * entirely (its only lineage test, `SimpleColumnTest.scala:22-28`, is
  * commented out).  Asserts exact source-column sets per output for
  * every plan shape the reference handles (scan/project/union) plus the
  * ones it punts on (aggregate/join/window/generate/subquery).
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  private def src(t: String, c: String) = SourceColumn(t, c)
  private def li = Tables.load(spark, sf, "lineitem")
  private def liTable: String = // LogicalRelation name includes the path
    ColumnLineage.of(li).outputs.head.sources.head.table

  test("scan: each output maps to its own relation column") {
    val g = ColumnLineage.of(li)
    assert(g("l_orderkey") == Set(src(liTable, "l_orderkey")))
    assert(g.outputs.size == 11)
  }

  test("project + filter: derived columns collect expression leaves") {
    val df = li.select(
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"),
      col("l_orderkey").as("ok"))
      .filter(col("net") > 0)
    val g = ColumnLineage.of(df)
    assert(g("net") == Set(src(liTable, "l_extendedprice"), src(liTable, "l_discount")))
    assert(g("ok") == Set(src(liTable, "l_orderkey")))
  }

  test("aggregate: outputs trace through agg expressions (reference punts)") {
    val df = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity") * col("l_extendedprice")).as("wsum"))
    val g = ColumnLineage.of(df)
    assert(g("l_returnflag") == Set(src(liTable, "l_returnflag")))
    assert(g("wsum") == Set(src(liTable, "l_quantity"), src(liTable, "l_extendedprice")))
  }

  test("join: both sides' columns survive with their own tables") {
    val ord = Tables.load(spark, sf, "orders")
    val ordTable = ColumnLineage.of(ord).outputs.head.sources.head.table
    val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("o_totalprice"),
        (col("l_extendedprice") + col("o_totalprice")).as("mix"))
    val g = ColumnLineage.of(df)
    assert(g("l_orderkey") == Set(src(liTable, "l_orderkey")))
    assert(g("o_totalprice") == Set(src(ordTable, "o_totalprice")))
    assert(g("mix") == Set(src(liTable, "l_extendedprice"), src(ordTable, "o_totalprice")))
  }

  test("union: n-ary positional pairing (reference was binary-only)") {
    val a = li.select(col("l_orderkey").as("k"), col("l_quantity").as("v"))
    val b = li.select(col("l_partkey").as("k"), col("l_discount").as("v"))
    val c = li.select(col("l_suppkey").as("k"), col("l_tax").as("v"))
    val g = ColumnLineage.of(a.union(b).union(c))
    assert(g("k").map(_.column) == Set("l_orderkey", "l_partkey", "l_suppkey"))
    assert(g("v").map(_.column) == Set("l_quantity", "l_discount", "l_tax"))
  }

  test("window: window expression traces partition/order/input columns") {
    val df = li.select(col("l_suppkey"),
      sum(col("l_quantity")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))).as("running"))
    val g = ColumnLineage.of(df)
    assert(g("running").map(_.column) ==
      Set("l_quantity", "l_suppkey", "l_shipdate"))
  }

  test("generate: exploded output traces the generator input") {
    val docs = Tables.load(spark, sf, "documents")
    val docTable = ColumnLineage.of(docs).outputs.head.sources.head.table
    val df = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val g = ColumnLineage.of(df)
    assert(g("word") == Set(src(docTable, "text")))
    assert(g("doc_id") == Set(src(docTable, "doc_id")))
  }

  test("scalar subquery: sources include the subquery's leaves") {
    Tables.registerAll(spark, sf)
    val df = spark.sql(
      "SELECT o_orderkey, (SELECT max(l_quantity) FROM lineitem) AS mq FROM orders")
    val g = ColumnLineage.of(df)
    assert(g("mq").map(_.column) == Set("l_quantity"))
  }

  test("expression chain through multiple projections composes") {
    val df = li.select((col("l_extendedprice") * 2).as("a"))
      .select((col("a") + 1).as("b"))
      .select(col("b").as("c"))
    val g = ColumnLineage.of(df)
    assert(g("c") == Set(src(liTable, "l_extendedprice")))
  }

  test("expand (rollup/cube) outputs trace through projections") {
    val df = li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("q"))
    val g = ColumnLineage.of(df)
    assert(g("q") == Set(src(liTable, "l_quantity")))
    assert(g("l_returnflag") == Set(src(liTable, "l_returnflag")))
  }

  test("ofSql resolves lineage through SQL text and views") {
    Tables.registerAll(spark, sf)
    val g = ColumnLineage.ofSql(spark,
      "SELECT o_orderstatus, sum(o_totalprice * 1.1) AS adj FROM orders GROUP BY o_orderstatus")
    assert(g("adj").map(_.column) == Set("o_totalprice"))
    assert(g("o_orderstatus").map(_.column) == Set("o_orderstatus"))
  }

  test("pivot lineage traces both pivot and value columns") {
    val df = li.groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity")))
    val g = ColumnLineage.of(df)
    assert(g("F").map(_.column).contains("l_quantity"))
    assert(g("l_returnflag") == Set(src(liTable, "l_returnflag")))
  }

  test("CTE lineage resolves through WITH clauses") {
    Tables.registerAll(spark, sf)
    val g = ColumnLineage.ofSql(spark,
      """WITH x AS (SELECT l_orderkey, l_quantity * 2 AS dq FROM lineitem)
        |SELECT l_orderkey, dq + 1 AS dq1 FROM x""".stripMargin)
    assert(g("dq1").map(_.column) == Set("l_quantity"))
    assert(g("l_orderkey").map(_.column) == Set("l_orderkey"))
  }

  test("hive catalog table is captured as the lineage source by name") {
    // reference ResolveHiveRelation.scala:18 — the catalogTable, not a
    // file path, is the source identity for metastore-backed scans
    Tables.registerAll(spark, sf)
    spark.sql("DROP TABLE IF EXISTS graft_lin_spec_t")
    spark.sql(
      """CREATE TABLE graft_lin_spec_t STORED AS PARQUET AS
        |SELECT n_nationkey, n_name FROM nation""".stripMargin)
    val g = ColumnLineage.of(
      spark.table("graft_lin_spec_t")
        .select((col("n_nationkey") * 2).as("dk")))
    assert(g("dk").map(s => (s.table, s.column)) ==
      Set(("graft_lin_spec_t", "n_nationkey")))
    spark.sql("DROP TABLE IF EXISTS graft_lin_spec_t")
  }

  test("operator-library output traces end-to-end (SCD2 over customer)") {
    // lineage must walk plans BUILT BY the op layer, not just hand-made
    // ones: Scd2 composes filter/join/union/case — attr must trace to
    // both the dimension attr column and the update attr column
    val c = Tables.load(spark, sf, "customer")
    val cTable = ColumnLineage.of(c).outputs.head.sources.head.table
    val dim = c.select(col("c_custkey").as("key"),
      col("c_mktsegment").as("attr"),
      lit(1L).as("valid_from"), lit(null).cast("long").as("valid_to"))
    val upd = c.select(col("c_custkey").as("key"),
      upper(col("c_name")).as("attr"))
    val g = ColumnLineage.of(graft.ops.Scd2.apply(dim, upd, 2L))
    assert(g("key") == Set(src(cTable, "c_custkey")))
    assert(g("attr") == Set(src(cTable, "c_mktsegment"), src(cTable, "c_name")))
  }

  test("streaming plan: StreamingRelation → windowed agg traces to source") {
    // the reference's lineage no-ops on streaming plans; here the same
    // walk handles the analyzed streaming plan: file StreamingRelation
    // leaf, TimeWindowing-rewritten window() struct, stateful Aggregate
    val stream = spark.readStream
      .schema(Tables.load(spark, sf, "events").schema)
      .parquet(s"$sf/events.parquet")
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(sum(col("value")).as("v_sum"), count(lit(1)).as("n"))
    assert(agg.isStreaming, "precondition: this is a streaming plan")
    val g = ColumnLineage.ofPlan(agg.queryExecution.analyzed)
    val srcTable = g("event_type").head.table
    assert(srcTable.startsWith("FileSource"), s"got table '$srcTable'")
    assert(g("event_type") == Set(src(srcTable, "event_type")))
    assert(g("v_sum") == Set(src(srcTable, "value")))
    assert(g("window") == Set(src(srcTable, "ts")),
      "the window struct must trace to the event-time column")
    assert(g("n").isEmpty, "count(1) has no source columns")
  }

  test("streaming plan: v2 rate source names the lineage leaf") {
    val df = spark.readStream.format("rate").load()
      .select((col("value") * 2).as("doubled"), col("timestamp"))
    val g = ColumnLineage.ofPlan(df.queryExecution.analyzed)
    assert(g("doubled") == Set(src("rate", "value")))
    assert(g("timestamp") == Set(src("rate", "timestamp")))
  }

  test("toDF edge list is stable and complete") {
    val df = li.select((col("l_tax") + col("l_discount")).as("rate"))
    val edges = ColumnLineage.of(df).toDF(spark).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(edges == Set(("rate", "l_tax"), ("rate", "l_discount")))
  }

  test("custom TopKPerKey plan: lineage survives the repo's own operator") {
    // The reference's lineage dies on any non-stock node; ours must
    // walk through the custom TopKPerKey logical plan (output =
    // child.output pass-through) and still attribute derived columns
    // to their leaf sources.
    val scored = li.select(col("l_orderkey"), col("l_partkey"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
    val topk = graft.plans.TopK.perKey(scored, Seq(col("l_orderkey")),
      Seq(col("net").desc, col("l_partkey").asc), k = 2)
    assert(topk.queryExecution.analyzed.collectFirst {
      case t: graft.plans.TopKPerKey => t
    }.nonEmpty, "plan must actually contain the custom node")
    val g = ColumnLineage.of(topk)
    assert(g("net") == Set(src(liTable, "l_extendedprice"), src(liTable, "l_discount")))
    assert(g("l_orderkey") == Set(src(liTable, "l_orderkey")))
  }

  test("custom codegen expressions: lineage attributes through them generically") {
    // MultiMatchCount / SignPack64 / HilbertIndex2D are unknown to any
    // hand-written case list — the walk must pick their child
    // attributes up through the generic Expression.references path
    import graft.functions.{hilbert2, multi_match_count, sign_pack64}
    val docs = graft.Tables.load(spark, sf, "documents")
    val g = ColumnLineage.of(docs.select(
      multi_match_count(lower(col("text")), Seq("a", "b", "c")).as("hits"),
      hilbert2((col("doc_id") % 64).cast("int"),
        (col("n_chars") % 64).cast("int"), 6).as("h")))
    val docsTable = g("hits").head.table
    assert(g("hits") == Set(src(docsTable, "text")))
    assert(g("h") == Set(src(docsTable, "doc_id"), src(docsTable, "n_chars")))
    val emb = graft.Tables.load(spark, sf, "embeddings")
    val g2 = ColumnLineage.of(emb.select(
      sign_pack64(col("embedding")).as("sig")))
    assert(g2("sig").map(_.column) == Set("embedding"))
  }

  test("DSv2 scan (SquaresV2): lineage leaf is the v2 table name") {
    val df = spark.read.format("graft.sources.SquaresV2")
      .option("n", 100).option("slices", 2).load()
      .select(col("id"), (col("sq") + col("id")).as("mix"))
    val g = ColumnLineage.of(df)
    val table = g("id").head.table
    assert(table.startsWith("squares("), s"v2 table identity expected: $table")
    assert(g("mix") == Set(src(table, "sq"), src(table, "id")))
  }

  test("Spark-4 plan shapes (recursive CTE, pipe syntax) don't break the walk") {
    // new logical nodes (UnionLoop / UnionLoopRef for WITH RECURSIVE)
    // must flow through the generic fallback without throwing, and the
    // non-recursive side's real sources must still be attributed
    Tables.registerAll(spark, sf)
    val rec = ColumnLineage.ofSql(spark,
      """WITH RECURSIVE seq(n) AS (
        |  SELECT 0 UNION ALL SELECT n + 1 FROM seq WHERE n < 5)
        |SELECT s.n, count(c.c_custkey) AS n_cust
        |FROM seq s LEFT JOIN customer c ON c.c_nationkey = s.n
        |GROUP BY s.n""".stripMargin)
    assert(rec("n_cust").exists(_.column == "c_custkey"),
      s"customer side must survive the recursive union: ${rec.outputs}")
    val piped = ColumnLineage.ofSql(spark,
      """FROM lineitem
        ||> WHERE l_quantity > 0
        ||> AGGREGATE sum(l_extendedprice) AS rev GROUP BY l_returnflag""".stripMargin)
    assert(piped("rev").exists(_.column == "l_extendedprice"))
    assert(piped("l_returnflag").exists(_.column == "l_returnflag"))
  }

  test("round-9 shapes: lineage through funnel and survivorship plans") {
    val ev = Tables.load(spark, sf, "events")
    // funnel: unions of per-level aggregates over joins — every level's
    // n_users must trace to nothing but literals/counts, and the plan
    // still analyzes through the lineage walk without dying
    val fg = graft.lineage.ColumnLineage.of(
      graft.ops.TimeSeries.funnel(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), "INTERVAL 1 DAY"))
    assert(fg.outputs.map(_.name).toSet == Set("level", "step", "n_users"))
    // survivorship: max_by/min_by aggregates + mode pre-agg join — the
    // merged fields must attribute to their true source columns
    import graft.ops.Linkage
    import Linkage.SurvivorRule._
    val sg = graft.lineage.ColumnLineage.of(
      Linkage.survivorship(ev, "user_id", Seq(
        ("last_type", "event_type", Newest(Seq("ts", "event_id"))),
        ("max_value", "value", MaxNum),
        ("top_type", "event_type", ModeAsc))))
    val evTable = sg("max_value").head.table
    assert(sg("max_value") == Set(src(evTable, "value")))
    assert(sg("last_type").contains(src(evTable, "event_type")),
      s"newest value must trace to its source column: ${sg("last_type")}")
    assert(sg("top_type").contains(src(evTable, "event_type")))
  }

  test("ops-layer checkpoint: minhashPairs traces THROUGH the " +
      "lineage-erasing localCheckpoint to documents columns") {
    // minhashPairs ends in CacheScope.releasing → localCheckpoint, so
    // its plan is a bare LogicalRDD leaf; the LineageRegistry capture
    // at checkpoint time must splice the pre-checkpoint lineage back in
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 60)
    val docTable = ColumnLineage.of(docs).outputs.head.sources.head.table
    val pairs = graft.ops.Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5)
    val g = ColumnLineage.of(pairs)
    assert(g("id_a") == Set(src(docTable, "doc_id")),
      s"id_a must reach the source id through the checkpoint: ${g("id_a")}")
    assert(g("id_b") == Set(src(docTable, "doc_id")))
    assert(g("jaccard") == Set(src(docTable, "text")),
      s"jaccard derives from shingled text only: ${g("jaccard")}")
  }

  test("ops-layer checkpoint CHAIN: suffix ranks trace through every " +
      "doubling round's materialization") {
    // suffixRanks checkpoints after EACH doubling round — the registry
    // must chain capture-to-capture so the final ranks still resolve
    // to the source text, five LogicalRDD hops upstream
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 20)
    val docTable = ColumnLineage.of(docs).outputs.head.sources.head.table
    val g = ColumnLineage.of(
      graft.ops.SuffixArray.suffixRanks(docs, "doc_id", "text", maxLen = 16))
    assert(g("suffix_rank") == Set(src(docTable, "text")),
      s"ranks derive from text alone, through the chain: ${g("suffix_rank")}")
    assert(g("doc_id") == Set(src(docTable, "doc_id")))
    assert(g("pos") == Set(src(docTable, "text")),
      s"positions derive from text length: ${g("pos")}")
  }

  test("ops-layer checkpoint: deterministicWalks paths trace to the " +
      "edge columns") {
    val edges = Seq((1L, 2L, 3L), (2L, 1L, 1L), (1L, 3L, 2L),
        (3L, 1L, 2L), (2L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val walks = graft.ops.GraphOps.deterministicWalks(edges, 1, 2, 3L)
    val g = ColumnLineage.of(walks)
    // the LocalRelation leaf's own columns are the tuple fields: _1 =
    // src, _2 = dst, _3 = w — path concatenates node ids, never weights
    val pathSrcs = g("path").map(_.column)
    assert(pathSrcs == Set("_1", "_2"),
      s"path concatenates src and dst node ids: ${g("path")}")
    assert(g("walk_id").map(_.column) == Set("_1"),
      s"walk ids derive from start nodes: ${g("walk_id")}")
  }

  test("ops-layer checkpoint CHAIN: Bradley-Terry strengths trace " +
      "through every MM round's lazy checkpoint") {
    // bradleyTerry checkpoints the pair table once and the score table
    // after EACH of the 3 MM rounds (all lazy) — the final strengths
    // must still resolve to the duel columns four LogicalRDD hops up.
    val duels = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("winner", "loser")
    val g = ColumnLineage.of(graft.ops.Preference.bradleyTerry(duels, 3))
    // item flows from both sides of the smoothing union (_1 = winner,
    // _2 = loser); wins/strengths are count(1)-derived, so by the
    // engine's convention they have NO column sources — and the
    // checkpoint chain must preserve that rather than leak a phantom
    // LogicalRDD source (the registry registers empty sets too).
    assert(g("item").map(_.column) == Set("_1", "_2"),
      s"items come from both duel columns: ${g("item")}")
    assert(g("wins").isEmpty,
      s"wins are pure duel counts — no column sources: ${g("wins")}")
    assert(g("strength_micro").isEmpty,
      s"strengths derive only from counts, through the MM chain: " +
        s"${g("strength_micro")}")
  }

  test("round-10 ops: lineage through dpoPairs' twin TopKPerKey heaps " +
      "and ngramOverlap's clipped-match kernel") {
    // dpoPairs routes BOTH extremes through custom TopKPerKey nodes
    // then joins them — margin must still resolve to the score column
    // alone, ids to the id column.
    val cands = Seq(("p", 1L, 5L), ("p", 2L, 9L))
      .toDF("prompt", "cid", "score")
    val g = ColumnLineage.of(graft.ops.Preference.dpoPairs(
      cands, "prompt", "cid", "score", 0L))
    assert(g("margin").map(_.column) == Set("_3"),
      s"margin derives from the score column only: ${g("margin")}")
    assert(g("chosen_id").map(_.column) == Set("_2"),
      s"chosen_id is the candidate id: ${g("chosen_id")}")
    // ngramOverlap's matched comes from the ClippedMatchCount codegen
    // expression over both token arrays — the generic references walk
    // must see through it, the struct-array explode, and the rollup.
    val pairs = Seq((1L, Seq("a", "b"), Seq("a", "c")))
      .toDF("id", "c", "r")
    val g2 = ColumnLineage.of(graft.ops.Eval.ngramOverlap(
      pairs, "id", "c", "r", maxN = 2))
    assert(g2("matched").map(_.column) == Set("_2", "_3"),
      s"matched clips both sides: ${g2("matched")}")
    // struct fields re-split by the final explode are attributed to
    // the WHOLE struct array's references — the engine's documented
    // conservative convention (over-approximate, never drop a source).
    assert(g2("cand_total").map(_.column) == Set("_2", "_3"),
      s"explode-of-struct unions conservatively: ${g2("cand_total")}")
  }

  test("ops-layer checkpoint CHAIN: PageRank ranks trace the edge " +
      "weights through every iteration's lazy checkpoint") {
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L))
      .toDF("src", "dst", "w")
    val g = ColumnLineage.of(graft.ops.GraphOps.pageRank(edges, 3))
    // contribution = floor(rank·w / w_out): every iteration folds the
    // weight column (_3) in; node ids come from both endpoints.
    assert(g("node").map(_.column) == Set("_1", "_2"),
      s"nodes come from both edge endpoints: ${g("node")}")
    assert(g("rank_micro").map(_.column) == Set("_3"),
      s"ranks derive from the weights through the iteration chain: " +
        s"${g("rank_micro")}")
  }

  test("round-10 continuation ops: grpoAdvantage's self-join and " +
      "zipfFit's limit+window+agg funnel keep exact column provenance") {
    // grpoAdvantage joins the sample frame to its own moment
    // aggregation on the group key: advantage must resolve to the
    // cents column only, the group key to the group column only —
    // the self-join must not smear provenance across columns.
    val samples = Seq(("p", 1L, 10L), ("p", 2L, 20L))
      .toDF("prompt", "sid", "cents")
    val g = ColumnLineage.of(graft.ops.Preference.grpoAdvantage(
      samples, "prompt", "sid", "cents"))
    assert(g("advantage").map(_.column) == Set("_3"),
      s"advantage derives from cents only: ${g("advantage")}")
    assert(g("prompt").map(_.column) == Set("_1"),
      s"group key stays the group column: ${g("prompt")}")
    assert(g("sid").map(_.column) == Set("_2"), g("sid").toString)
    // zipfFit: tokenize → groupBy → TakeOrdered limit → row_number
    // window → moment agg; both fit outputs must still reach the text
    // column through the whole funnel (rank is synthesized FROM the
    // count order, whose only source is the text).
    val docs = Seq((1L, "a a b")).toDF("id", "text")
    val g2 = ColumnLineage.of(graft.ops.CorpusStats.zipfFit(
      docs, "text", topV = 10))
    assert(g2("zipf_slope").map(_.column) == Set("_2"),
      s"slope traces to the text column: ${g2("zipf_slope")}")
    assert(g2("ln_c").map(_.column) == Set("_2"), g2("ln_c").toString)
  }

  test("flagship ops composition: bm25TopK ids trace through explode + " +
      "4 aggregates + 3 joins + TopKPerKey; count-derived scores carry " +
      "no direct column sources (the count(*) convention)") {
    // Two distinct source relations on purpose: the corpus from
    // parquet, the query frame from a local relation — the pipeline's
    // join must keep each id's provenance on its own table.
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 40)
    val docTable = ColumnLineage.of(docs).outputs.head.sources.head.table
    val qs = Seq((1L, "alpha beta"), (2L, "gamma"))
      .toDF("qid", "qtext")
    val g = ColumnLineage.of(
      graft.ops.Retrieval.bm25TopK(docs, "doc_id", "text", qs, k = 3))
    assert(g("qid").map(_.column) == Set("_1"),
      s"qid stays on the query relation: ${g("qid")}")
    assert(g("doc_id") == Set(src(docTable, "doc_id")),
      s"doc_id reaches the corpus id through the TopK heap: ${g("doc_id")}")
    // score_micro / n_terms_hit are built ENTIRELY from count(*)
    // aggregates (tf, dl, df, n_docs, n_toks) — expression-reference
    // lineage correctly reports no direct column sources, the same
    // convention every column-lineage tool applies to count(*).
    assert(g("score_micro").isEmpty, g("score_micro").toString)
    assert(g("n_terms_hit").isEmpty, g("n_terms_hit").toString)
  }

  test("RUNNING query: listener captures sink-column lineage to the " +
      "live v2 memory source; ofQuery and the snapshot agree") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val listener = new StreamingLineage.LineageListener(spark)
    spark.streams.addListener(listener)
    val in = MemoryStream[(Long, Double)]
    val out = in.toDF().toDF("k", "v")
      .groupBy(col("k"))
      .agg(sum(col("v") * 2).as("v2_sum"), count(lit(1)).as("n"))
    val q = out.writeStream.format("memory").queryName("lin_mem_out")
      .outputMode("complete").start()
    try {
      in.addData((1L, 1.5), (2L, 2.5), (1L, 3.0))
      q.processAllAvailable()
      val g = StreamingLineage.ofQuery(q)
      val srcTable = g("k").head.table
      assert(g("k").map(_.column) == Set("_1"), g("k").toString)
      assert(g("v2_sum") == Set(src(srcTable, "_2")), g("v2_sum").toString)
      assert(g("n").isEmpty, "count(1) has no source columns")
      // hop view over the same RUNNING plan: v2_sum is an Aggregate hop
      // whose leaf is the live stream source's _2 column
      val hops = StreamingLineage.hopsOfQuery(q).toMap
      val vh = hops("v2_sum").asInstanceOf[ColumnLineage.DerivedHop]
      assert(vh.node == "Aggregate" && vh.exprSql.contains("sum"), vh.label)
      def leaves(h: ColumnLineage.HopNode): Seq[ColumnLineage.SourceColumn] =
        h match {
          case l: ColumnLineage.LeafHop => Seq(l.source)
          case d: ColumnLineage.DerivedHop => d.children.flatMap(leaves)
        }
      assert(leaves(vh).map(_.column).toSet == Set("_2"), vh.treeString)
      // the listener's async snapshot converges to the same graph
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      var snap = listener.graphOf(q.runId)
      while (snap.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50); snap = listener.graphOf(q.runId)
      }
      assert(snap.nonEmpty, "listener never captured the run's lineage")
      assert(snap.get.outputs == g.outputs)
      q.stop()
      // graphs survive termination (post-mortem audit)
      assert(listener.graphOf(q.runId).nonEmpty)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("RUNNING query: foreachBatch sinks trace like any other — the " +
      "exactly-once merge pattern keeps column provenance") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val out = in.toDF().toDF("k", "v")
      .select(col("k"), (col("v") * 10).as("v10"))
    val q = out.writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    try {
      in.addData((1L, 2L), (3L, 4L))
      q.processAllAvailable()
      val g = StreamingLineage.ofQuery(q)
      assert(g.outputs.map(_.name) == Seq("k", "v10"),
        "sink wrapper must strip down to the user plan's columns: " +
          g.outputs.map(_.name))
      assert(g("k").map(_.column) == Set("_1"), g("k").toString)
      assert(g("v10").map(_.column) == Set("_2"), g("v10").toString)
      assert(StreamingLineage.ofLastBatch(q).nonEmpty)
    } finally q.stop()
  }

  test("LineageListener overflow evicts OLDEST terminated runs first " +
      "and never drops a still-active run's graph") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val listener = new StreamingLineage.LineageListener(spark, maxRuns = 1)
    spark.streams.addListener(listener)
    def await(cond: => Boolean, what: String): Unit = {
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for: $what")
    }
    def startQ(name: String) = {
      val in = MemoryStream[Long]
      val q = in.toDF().toDF("v")
        .select((col("v") + 1).as("v1"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      in.addData(1L); q.processAllAvailable()
      await(listener.graphOf(q.runId).nonEmpty, s"$name captured")
      q
    }
    val q1 = startQ("lin_evict_a")
    val q2 = startQ("lin_evict_b")
    try {
      // over capacity (maxRuns=1) with BOTH runs active: neither may
      // be evicted — active runs are skipped by the eviction scan
      assert(listener.graphOf(q1.runId).nonEmpty, "active q1 must survive")
      assert(listener.graphOf(q2.runId).nonEmpty, "active q2 must survive")
      q1.stop()
      // next capture overflows again; now-terminated q1 is the oldest
      // evictable entry and must go, while q2 (active) survives
      val q3 = startQ("lin_evict_c")
      try {
        await(listener.graphOf(q1.runId).isEmpty,
          "terminated q1 evicted on overflow")
        assert(listener.graphOf(q2.runId).nonEmpty,
          "active q2 must survive the overflow")
        assert(listener.graphOf(q3.runId).nonEmpty, "newest run kept")
      } finally q3.stop()
    } finally {
      q1.stop(); q2.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("hop-level DAG reproduces the reference example's nested " +
      "substr/arithmetic derivation tree") {
    // The reference preserves hop-by-hop derivation as
    // `Column extends TreeNode[Column]` and prints it for exactly this
    // query (`examples/.../SparkLineageExample.scala:47-58`):
    //   c ← substr(a+1, 0, 1) ← a ← 1.  hopsOf must keep every
    // intermediate node where LineageGraph would flatten to closure.
    val df = spark.sql("select * from (select substr(a+1,0,1) as c," +
      "a+3 as d from (select 1 as a,2 as b))")
    val hops = ColumnLineage.hopsOf(df).toMap
    val c = hops("c").asInstanceOf[ColumnLineage.DerivedHop]
    assert(c.name == "c" && c.node == "Project")
    assert(c.exprSql.toLowerCase.contains("substr") &&
      c.exprSql.contains("a + 1"), c.exprSql)
    // exactly one input hop: the intermediate column a, itself derived
    // from the literal 1 with no further inputs
    val Seq(a: ColumnLineage.DerivedHop) = c.children
    assert(a.name == "a" && a.exprSql == "1" && a.children.isEmpty, a)
    val d = hops("d").asInstanceOf[ColumnLineage.DerivedHop]
    assert(d.exprSql.contains("a + 3") &&
      d.children == Seq(a), d) // the shared sub-derivation is ONE node
    // the rendered tree nests the derivation like the reference's
    // lineageChildren(0).treeString
    val t = c.treeString
    assert(t.linesIterator.size == 2 && t.contains("+- a := 1"), t)
  }

  test("hop-level DAG through parquet scans: renames are hops, " +
      "untouched columns are not, leaves are physical columns") {
    val df = li
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
      .select(col("l_orderkey"), (col("net") * 2).as("net2"))
    val hops = ColumnLineage.hopsOf(df).toMap
    // untouched pass-through: l_orderkey is the LEAF itself, no hop
    assert(hops("l_orderkey") ==
      ColumnLineage.LeafHop(src(liTable, "l_orderkey")))
    val net2 = hops("net2").asInstanceOf[ColumnLineage.DerivedHop]
    val Seq(net: ColumnLineage.DerivedHop) = net2.children
    assert(net.name == "net" && net.node == "Project")
    assert(net.children.collect { case l: ColumnLineage.LeafHop => l.source }
      .toSet == Set(src(liTable, "l_discount"), src(liTable, "l_extendedprice")))
    // flat edge list carries the same structure
    val edges = ColumnLineage.hopEdges(df)
    assert(edges.exists { case (o, _, n, i) =>
      o == "net2" && n == "Project" && i == "net" })
    assert(edges.exists { case (o, _, _, i) =>
      o == "net" && i == s"$liTable.l_extendedprice" })
  }

  test("hop-level DAG: aggregate hop + FULL derivation through the " +
      "lineage-erasing checkpoint (registry splices the hop TREE)") {
    val agg = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"))
    val qh = ColumnLineage.hopsOf(agg).toMap.apply("q")
      .asInstanceOf[ColumnLineage.DerivedHop]
    assert(qh.node == "Aggregate" && qh.exprSql.contains("sum"), qh)
    // minhashPairs ends in a localCheckpoint; the registry now stores
    // the pre-checkpoint HOP TREE, so the post-checkpoint walk gets
    // the real derivation (jaccard_sorted refine over shingle sets)
    // with documents.text leaves — not a "checkpoint" placeholder
    val docs = Tables.load(spark, sf, "documents").filter(col("doc_id") < 40)
    val docTable = ColumnLineage.of(docs).outputs.head.sources.head.table
    val pairs = graft.ops.Dedup.minhashPairs(docs, "doc_id", "text", 0.5)
    val j = ColumnLineage.hopsOf(pairs).toMap.apply("jaccard")
      .asInstanceOf[ColumnLineage.DerivedHop]
    assert(j.exprSql.toLowerCase.replace("_","").contains("jaccardsorted"),
      s"the real deriving expression must survive the checkpoint: ${j.label}")
    def leaves(h: ColumnLineage.HopNode): Seq[ColumnLineage.SourceColumn] =
      h match {
        case l: ColumnLineage.LeafHop => Seq(l.source)
        case d: ColumnLineage.DerivedHop => d.children.flatMap(leaves)
      }
    assert(leaves(j).toSet == Set(src(docTable, "text")),
      s"leaves must be the physical text column: ${leaves(j).toSet}")
    // the intermediate shingle-set derivation is an actual hop in the
    // spliced tree (the fidelity the flattened closure view drops)
    def names(h: ColumnLineage.HopNode): Seq[String] = h match {
      case d: ColumnLineage.DerivedHop => d.name +: d.children.flatMap(names)
      case _ => Nil
    }
    assert(names(j).exists(_.startsWith("sh")),
      s"intermediate shingle hops expected in: ${names(j).distinct}")
  }

  test("control-flow mode (opt-in): filter and join predicates add " +
      "presence edges; default stays data-flow only") {
    val f = li.filter(col("l_shipdate") > lit("1995-06-01"))
      .select(col("l_orderkey"))
    // default: unchanged semantics — the reference's data-flow edges
    assert(ColumnLineage.of(f)("l_orderkey") ==
      Set(src(liTable, "l_orderkey")))
    val g = ColumnLineage.of(f, includeControlFlow = true)
    assert(g("l_orderkey") ==
      Set(src(liTable, "l_orderkey"), src(liTable, "l_shipdate")),
      s"row presence depends on the filter predicate: ${g("l_orderkey")}")
    // join predicate: both key columns feed every surviving column
    val ord = Tables.load(spark, sf, "orders")
    val ordTable = ColumnLineage.of(ord).outputs.head.sources.head.table
    val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_totalprice"))
    assert(ColumnLineage.of(j)("o_totalprice") ==
      Set(src(ordTable, "o_totalprice")))
    val gj = ColumnLineage.of(j, includeControlFlow = true)
    assert(gj("o_totalprice") == Set(src(ordTable, "o_totalprice"),
      src(ordTable, "o_orderkey"), src(liTable, "l_orderkey")),
      gj("o_totalprice").toString)
  }

  test("control-flow mode: an IN (SELECT …) predicate's subquery " +
      "columns reach every surviving output") {
    li.createOrReplaceTempView("cf_li")
    Tables.load(spark, sf, "orders").createOrReplaceTempView("cf_ord")
    def table(view: String) =
      ColumnLineage.ofSql(spark, s"SELECT * FROM $view")
        .outputs.head.sources.head.table
    val q = "SELECT l_orderkey, l_quantity FROM cf_li WHERE l_orderkey IN " +
      "(SELECT o_orderkey FROM cf_ord WHERE o_totalprice > 1000)"
    val data = ColumnLineage.ofSql(spark, q)
    assert(data("l_quantity") == Set(src(table("cf_li"), "l_quantity")))
    val g = ColumnLineage.ofSql(spark, q, includeControlFlow = true)
    // the subquery's own filter is control flow too: o_totalprice
    // decides which keys the IN list holds
    val pred = Set(src(table("cf_li"), "l_orderkey"),
      src(table("cf_ord"), "o_orderkey"), src(table("cf_ord"), "o_totalprice"))
    assert(g("l_quantity") == pred + src(table("cf_li"), "l_quantity"),
      g("l_quantity").toString)
    assert(g("l_orderkey") == pred, g("l_orderkey").toString)
  }

  test("control-flow mode over a checkpointed op output: the spliced " +
      "data lineage plus the filter column's sources") {
    val docs = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 60)
    val docTable = ColumnLineage.of(docs).outputs.head.sources.head.table
    val kept = graft.ops.Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5).filter(col("jaccard") > 0.6).select("id_a")
    assert(ColumnLineage.of(kept)("id_a") == Set(src(docTable, "doc_id")))
    // the capture spliced behind the checkpoint is data flow; the
    // jaccard filter above it adds jaccard's sources
    val g = ColumnLineage.of(kept, includeControlFlow = true)
    assert(g("id_a") == Set(src(docTable, "doc_id"), src(docTable, "text")),
      g("id_a").toString)
  }

  test("RUNNING query: stable plan names the v1 file stream; the last " +
      "micro-batch's IncrementalExecution traces to the concrete batch " +
      "relation it served") {
    val dir = graft.TmpCleanup.tempDir("graft_lineage_stream")
    Tables.load(spark, sf, "events")
      .select(col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .parquet(dir)
    val agg = stream.groupBy(col("event_type"))
      .agg(sum(col("value")).as("total"))
    val q = agg.writeStream.format("memory").queryName("lin_file_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      // stable streaming plan: the leaf is the SOURCE itself
      val g = StreamingLineage.ofQuery(q)
      val srcTable = g("event_type").head.table
      assert(srcTable.startsWith("FileStreamSource["), srcTable)
      assert(srcTable.contains("graft_lineage_stream"), srcTable)
      assert(g("total") == Set(src(srcTable, "value")), g("total").toString)
      // last micro-batch: the leaf is the batch's file relation over
      // the same directory (IncrementalExecution.analyzed)
      val gb = StreamingLineage.ofLastBatch(q)
      assert(gb.nonEmpty, "no IncrementalExecution after processAllAvailable")
      val batchTable = gb.get("event_type").head.table
      assert(batchTable != srcTable && batchTable.contains("graft_lineage_stream"),
        s"batch leaf should be the served file relation, got '$batchTable'")
      assert(gb.get("total").map(_.column) == Set("value"), gb.get("total").toString)
    } finally q.stop()
  }

  test("sink lineage: a two-hop write→read→write→read pipeline composes " +
      "table-to-table, appends union, hop trees splice through the table") {
    val base = li.limit(100)
    base.createOrReplaceTempView("sink_li")
    spark.sql("DROP TABLE IF EXISTS sink_hop1")
    spark.sql("DROP TABLE IF EXISTS sink_hop2")
    // hop 1: CTAS from lineitem (captured synchronously off the qe)
    val ctas1 = spark.sql(
      """CREATE TABLE sink_hop1 USING parquet AS
        |SELECT l_returnflag AS rf, sum(l_quantity) AS qty
        |FROM sink_li GROUP BY l_returnflag""".stripMargin)
    SinkLineage.capture(ctas1.queryExecution)
    // hop 2: CTAS from the FIRST written table — the read of sink_hop1
    // must already splice, and the second capture records the spliced
    // (original) sources under sink_hop2
    val ctas2 = spark.sql(
      """CREATE TABLE sink_hop2 USING parquet AS
        |SELECT rf, qty * 2 AS qty2 FROM sink_hop1""".stripMargin)
    SinkLineage.capture(ctas2.queryExecution)
    val g = ColumnLineage.of(spark.table("sink_hop2"))
    assert(g("rf") == Set(src("sink_li", "l_returnflag")), g("rf").toString)
    assert(g("qty2") == Set(src("sink_li", "l_quantity")), g("qty2").toString)
    // hop tree through BOTH materializations keeps the derivations
    val tree = ColumnLineage.hopTree(spark.table("sink_hop2"), "qty2")
    assert(tree.contains("qty2 :="), tree)
    assert(tree.contains("qty := sum(sink_li.l_quantity)"), tree)
    assert(tree.contains("+- sink_li.l_quantity"), tree)
    // append semantics: INSERT INTO unions new sources with existing
    val ins = spark.sql(
      "INSERT INTO sink_hop2 SELECT l_linestatus, 0L FROM sink_li")
    SinkLineage.capture(ins.queryExecution)
    val g2 = ColumnLineage.of(spark.table("sink_hop2"))
    assert(g2("rf") == Set(src("sink_li", "l_returnflag"),
      src("sink_li", "l_linestatus")), g2("rf").toString)
    spark.sql("DROP TABLE IF EXISTS sink_hop1")
    spark.sql("DROP TABLE IF EXISTS sink_hop2")
  }

  test("sink lineage + time travel: a live v2 read splices the writing " +
      "query's sources; a VERSION AS OF read does NOT inherit them") {
    spark.conf.set("spark.sql.catalog.tt_cat", "graft.sources.MemCatalog")
    graft.sources.MemCatalog.clear("tt_cat")
    LineageRegistry.forgetTable("tt_cat.ns.tt_lin")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS tt_cat.ns")
    spark.sql("CREATE TABLE tt_cat.ns.tt_lin (rf STRING, qty DOUBLE)")
    li.limit(80).createOrReplaceTempView("tt_sink_li")
    val ins = spark.sql(
      """INSERT INTO tt_cat.ns.tt_lin
        |SELECT l_returnflag, sum(l_quantity) FROM tt_sink_li
        |GROUP BY l_returnflag""".stripMargin)
    SinkLineage.capture(ins.queryExecution)
    // the live read splices back to the base table through the registry
    val live = ColumnLineage.of(spark.table("tt_cat.ns.tt_lin"))
    assert(live("rf") == Set(src("tt_sink_li", "l_returnflag")),
      live("rf").toString)
    // the time-travel read of the PRE-write snapshot must not claim the
    // later write's provenance: its relation identity carries the @v
    // suffix, so the registry key never matches and the leaf stays the
    // snapshot relation (named by the read alias), never tt_sink_li
    val v0 = ColumnLineage.of(
      spark.sql("SELECT rf, qty FROM tt_cat.ns.tt_lin VERSION AS OF 0"))
    assert(v0("rf") == Set(src("tt_lin", "rf")), v0("rf").toString)
    assert(!v0("rf").exists(_.table == "tt_sink_li"), v0("rf").toString)
    spark.sql("DROP TABLE tt_cat.ns.tt_lin")
  }

  test("sink lineage + row-level rewrite: MERGE INTO a v2 table unions " +
      "the merge source into the target's entry, prior state retained") {
    spark.conf.set("spark.sql.catalog.mrg_cat", "graft.sources.MemCatalog")
    graft.sources.MemCatalog.clear("mrg_cat")
    LineageRegistry.forgetTable("mrg_cat.ns.mrg_tgt")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mrg_cat.ns")
    spark.sql("CREATE TABLE mrg_cat.ns.mrg_tgt (k BIGINT, v DOUBLE)")
    li.limit(60).createOrReplaceTempView("mrg_base")
    val ins = spark.sql(
      """INSERT INTO mrg_cat.ns.mrg_tgt
        |SELECT l_orderkey, sum(l_quantity) FROM mrg_base
        |GROUP BY l_orderkey""".stripMargin)
    SinkLineage.capture(ins.queryExecution)
    // the merge source derives v from a DIFFERENT base column, so the
    // union below is unambiguous evidence of both contributions
    li.limit(40).createOrReplaceTempView("mrg_src_li")
    val mrg = spark.sql(
      """MERGE INTO mrg_cat.ns.mrg_tgt t
        |USING (SELECT l_orderkey AS k, avg(l_extendedprice) AS v
        |       FROM mrg_src_li GROUP BY l_orderkey) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    SinkLineage.capture(mrg.queryExecution)
    val g = ColumnLineage.of(spark.table("mrg_cat.ns.mrg_tgt"))
    // v traces to BOTH the prior target state (l_quantity from the
    // original insert) and the merge source (l_extendedprice)
    assert(g("v").contains(src("mrg_base", "l_quantity")), g("v").toString)
    assert(g("v").contains(src("mrg_src_li", "l_extendedprice")),
      g("v").toString)
    assert(g("k").contains(src("mrg_src_li", "l_orderkey")), g("k").toString)
    // the hop tree composes through the rewrite too: the read splices
    // the writing MERGE's hop tree, whose assembled column is a
    // MergeRows-derived hop over both contributions
    val tree = ColumnLineage.hopTree(spark.table("mrg_cat.ns.mrg_tgt"), "v")
    assert(tree.contains("merge"), tree)
    assert(tree.contains("mrg_src_li.l_extendedprice"), tree)
    // and a row-level UPDATE referencing the target's own column keeps
    // composing: v = v * 2 adds no foreign source, loses none
    val upd = spark.sql(
      "UPDATE mrg_cat.ns.mrg_tgt SET v = v * 2 WHERE k > 0")
    SinkLineage.capture(upd.queryExecution)
    val g2 = ColumnLineage.of(spark.table("mrg_cat.ns.mrg_tgt"))
    assert(g2("v").contains(src("mrg_base", "l_quantity")), g2("v").toString)
    assert(g2("v").contains(src("mrg_src_li", "l_extendedprice")),
      g2("v").toString)
    spark.sql("DROP TABLE mrg_cat.ns.mrg_tgt")
  }

  test("sink lineage listener: plain df.write.parquet(path) is captured " +
      "from the listener bus and a path read splices it") {
    val dir = graft.TmpCleanup.tempDir("graft_sink_listener")
    SinkLineage.register(spark)
    try {
      li.limit(50)
        .select(col("l_orderkey").as("k"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net"))
        .write.mode("overwrite").parquet(dir)
      // QueryExecutionListener delivery is async — poll (bounded) for
      // the registry entry instead of touching the private listener bus
      val deadline = System.currentTimeMillis() + 20000
      while (LineageRegistry
          .lookupTable(SinkLineage.normalizeId(dir), "k").isEmpty &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val g = ColumnLineage.of(spark.read.parquet(dir))
      assert(g("k") == Set(src(liTable, "l_orderkey")), g("k").toString)
      assert(g("net") == Set(src(liTable, "l_extendedprice"),
        src(liTable, "l_discount")), g("net").toString)
    } finally SinkLineage.unregister(spark)
  }

  test("RUNNING chunked file replay (q_fuzzst shape): hop-level lineage " +
      "is invariant under the chunking") {
    // q_fuzzst pins that chunked-replay VALUES equal the batch oracle;
    // this pins that the lineage layer is replay-invariant too — the
    // same watermarked tumbling aggregation replayed as 2 chunks
    // (1 file/trigger) and as 5 chunks (2 files/trigger) must produce
    // IDENTICAL hop-level derivation trees and sink-column graphs on
    // the RUNNING queries, the file-source directory (the only
    // legitimately run-specific token) normalized out.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    def runChunked(nChunks: Int, mft: Int, tag: String)
        : (Seq[String], Seq[(String, Set[String])]) = {
      val ev = spark.range(0, 120).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1700000000L) + col("id") * 37).as("ts"),
        concat(lit("t"), pmod(col("id"), lit(3))).as("event_type"),
        (col("id") % 10).cast("decimal(12,2)").as("v"))
      val dir = graft.TmpCleanup.tempDir(s"graft_lin_replay_$tag")
      (0 until nChunks).foreach { i =>
        val stage = graft.TmpCleanup.tempDir(s"graft_lin_stage_${tag}_$i")
        ev.filter(pmod(col("event_id"), lit(nChunks)) === i)
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = Paths.get(dir, f"chunk_$i%03d.parquet")
        Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", mft).parquet(dir)
      val agg = stream
        .withWatermark("ts", "3600 seconds")
        .groupBy(window(col("ts"), "600 seconds"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      val name = s"lin_replay_$tag"
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // captured while RUNNING (stop() only after the snapshot)
        val hops = StreamingLineage.hopsOfQuery(q)
          .map { case (n, h) => s"$n\n${h.treeString}".replace(dir, "<SRC>") }
        val g = StreamingLineage.ofQuery(q)
        val cols = g.outputs.map(_.name).map { n =>
          n -> g(n).map(sc =>
            s"${sc.table.replace(dir, "<SRC>")}.${sc.column}")
        }
        (hops, cols)
      } finally q.stop()
    }
    val (hopsA, colsA) = runChunked(2, 1, "a")
    val (hopsB, colsB) = runChunked(5, 2, "b")
    assert(hopsA.nonEmpty, "no hops captured on the running query")
    assert(hopsA == hopsB,
      s"hop trees diverged across chunkings:\nA=${hopsA.mkString("\n")}\n" +
        s"B=${hopsB.mkString("\n")}")
    assert(colsA == colsB,
      s"sink-column graphs diverged across chunkings: $colsA vs $colsB")
    // and the lineage is the RIGHT one, not just a stable artifact:
    // total must trace to v alone, n to nothing (count(1) convention)
    val m = colsA.toMap
    assert(m("total") == Set("FileStreamSource[file:<SRC>].v"),
      m("total").toString)
    assert(m("n").isEmpty, m("n").toString)
    assert(m("event_type") == Set("FileStreamSource[file:<SRC>].event_type"),
      m("event_type").toString)
  }
}
