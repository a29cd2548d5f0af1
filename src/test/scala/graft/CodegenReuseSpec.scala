package graft

/** The session keeps one pass's generated classes compiled for the
  * next: [[GraftSession.withHive]] sizes Spark's codegen cache to 1000
  * entries.  Under Spark's default of 100 the gates below compile about
  * 90 classes again on every pass, because one pass needs more classes
  * than the cache holds.  Three of them alone would fit in 100.
  */
class CodegenReuseSpec extends SparkSpec {

  /** perfbench's `curate_ingest` ops but two.  `q_knn_brute`: Spark
    * names each limit's counter from a JVM-global id, so a codegen stage
    * with a limit never matches its cached source and compiles on every
    * run.  `q_dedup_minhash`: on some warm runs its tasks compile again
    * a few classes whose source is in the cache (4 of its 43, on one of
    * three warm runs).
    */
  private val gates = Seq("q_dedup_exact", "q_text_quality", "q_lang_id",
    "q_wordpiece", "q_hive_roundtrip", "q_dsv2_write", "q_merge_into",
    "q_stream_dedup")

  /** One pass to the full result, as a user takes it: each gate's
    * classes compiled.
    */
  private def pass(): Seq[(String, Long)] = gates.map { g =>
    val c0 = Bench.compileCount
    try SparkEntry.queries(g)(spark, sf).collect()
    finally TmpCleanup.releaseGateScratch()
    g -> (Bench.compileCount - c0)
  }

  test("the session sizes the codegen cache to 1000 entries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("a second pass over the curate gates compiles no generated class") {
    // the counter is live: a literal no earlier plan held is new code
    val c0 = Bench.compileCount
    spark.range(4).selectExpr(s"id + ${System.nanoTime()}L AS x").collect()
    assert(Bench.compileCount > c0)
    pass() // an earlier spec may have left these classes cached already
    val warm = pass()
    assert(warm.forall(_._2 == 0), warm)
  }
}
