package graft

/** [[GraftSession.withConf]] puts every key back as `spark.conf.getAll`
  * had it: an explicit value is restored, anything else is unset —
  * including a registered key, whose `getOption` default must not come
  * back as an explicit setting.  The session shape itself carries the
  * `graft_cat` plugin catalog and the parquet `nanosAsLong` conf, so
  * neither a gate nor a table load sets them.
  */
class GraftSessionSpec extends SparkSpec {

  test("withConf restores getAll after a throwing body") {
    val registered = "spark.sql.autoBroadcastJoinThreshold"
    val unregistered = "graft.spec.unregistered"
    val explicit = "spark.sql.shuffle.partitions"
    assert(spark.conf.getOption(registered).isDefined)
    val before = spark.conf.getAll
    assert(!before.contains(registered) && !before.contains(unregistered))
    assert(before.contains(explicit))
    val err = intercept[IllegalStateException] {
      GraftSession.withConf(spark, registered -> "-1", unregistered -> "x",
          explicit -> "3") {
        assert(spark.conf.get(registered) == "-1")
        assert(spark.conf.get(unregistered) == "x")
        assert(spark.conf.get(explicit) == "3")
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(spark.conf.getAll == before)
  }

  test("the session registers graft_cat, so the catalog gates leave its conf as it was") {
    assert(spark.conf.get("spark.sql.catalog.graft_cat") == "graft.sources.MemCatalog")
    Tables.registerAll(spark, sf)
    val before = spark.conf.getAll
    for (g <- Seq("q_catalog_table", "q_merge_into"))
      assert(Bench.runGate(spark, g, sf).isRight, g)
    val after = spark.conf.getAll
    assert((before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k)).isEmpty)
  }

  test("registering the tables on a new session leaves its conf as it was") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.registerAll(s, sf)
    assert(s.conf.getAll == before)
  }

  test("withConf returns the body's value") {
    val before = spark.conf.getAll
    assert(GraftSession.withConf(spark, "graft.spec.k" -> "v")(spark.conf.get("graft.spec.k")) == "v")
    assert(spark.conf.getAll == before)
  }
}
