package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.graftbridge.ListenerBridge

/** The runner core: [[Bench.runGate]] (one timed, tagged run that
  * always releases gate scratch), the per-gate [[Bench.Tally]] read
  * after an exact listener-bus drain, and [[Bench.regressions]], the
  * guard that compares only records made under one [[Bench.Key]].
  */
class BenchSpec extends SparkSpec {

  test("runGate times a gate and releases its scratch") {
    val scratch = TmpCleanup.tempDir("benchspec_ok")
    val r = Bench.runGate(spark, "q01_pricing_summary", sf)
    assert(r.exists(t => t.secs > 0 && t.rows > 0), r)
    assert(!Files.exists(Paths.get(scratch)))
  }

  test("runGate returns the first error line of a throwing gate and still releases scratch") {
    val scratch = TmpCleanup.tempDir("benchspec_err")
    val r = Bench.runGate(spark, "q01_pricing_summary", s"$sf/no_such_dir")
    assert(r.isLeft, r)
    r.left.foreach { e =>
      assert(e.nonEmpty && !e.contains("\n") && e.contains("no_such_dir"), e)
    }
    assert(!Files.exists(Paths.get(scratch)))
    assert(spark.sparkContext.getLocalProperty(Bench.GateKey) == null)
  }

  test("the tally attributes a tagged job to its gate and leaves untagged jobs out") {
    val sc = spark.sparkContext
    val tally = new Bench.Tally
    sc.addSparkListener(tally)
    try {
      sc.setLocalProperty(Bench.GateKey, "benchspec_tagged")
      try spark.range(0, 10000).repartition(4).count()
      finally sc.setLocalProperty(Bench.GateKey, null)
      spark.range(0, 10000).repartition(4).count()
      ListenerBridge.drain(sc)
      val g = tally("benchspec_tagged")
      assert(g.jobs >= 1, g)
      assert(g.stages.size >= 2, g)
      assert(g.total(_.tasks) >= 4, g)
      assert(g.total(_.shufWriteB) > 0, g)
      assert(tally.gateNames == Set("benchspec_tagged"))
    } finally sc.removeSparkListener(tally)
  }

  private val key = Bench.Key("c0ffee", 4, Bench.Action)

  /** A BENCH_FULL.json text with `keyJson` and one median per gate. */
  private def record(keyJson: String, gates: (String, Double)*): String =
    s"""{"key": $keyJson, "rev": "0000000", "summary": {"metric":"total"}, "gates": """ +
      gates.map { case (n, m) => s""""$n": {"median":$m,"runs":[$m],"err":null}""" }
        .mkString("{\n", ",\n", "\n}") + "}"

  test("the guard flags a 2x slower gate against a record with the same key") {
    val prev = record(key.json, "q_slow" -> 1.0, "q_same" -> 1.0, "q_gone" -> 1.0)
    val r = Bench.regressions(prev, key, Map("q_slow" -> 2.0, "q_same" -> 1.05, "q_new" -> 9.0))
    assert(r == Right(Seq(("q_slow", 1.0, 2.0))), r)
  }

  test("the guard refuses a record whose key differs, naming the first differing field") {
    val med = Map("q_slow" -> 2.0)
    for ((other, field) <- Seq(key.copy(cpus = 32) -> "cpus",
        key.copy(corpus = "5ca1ab1e") -> "corpus", key.copy(action = "noop") -> "action")) {
      val r = Bench.regressions(record(other.json, "q_slow" -> 1.0), key, med)
      assert(r.left.exists(_.startsWith(s"$field differs")), (field, r))
    }
  }

  test("the guard refuses a keyless record with no key") {
    val keyless = """{
      |"q_slow": {"median":1.0,"runs":[1.0,1.1,0.9],"err":null}
      |}""".stripMargin
    assert(Bench.regressions(keyless, key, Map("q_slow" -> 2.0)) == Left("no key"))
  }
}
