package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.graftbridge.ListenerBridge

/** The runner core: [[Bench.runGate]] (one timed, tagged run that
  * always releases gate scratch), the per-gate [[Bench.Tally]] read
  * after an exact listener-bus drain, and [[Bench.fitLine]], the last
  * bound on the stdout summary line.
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

  test("fitLine drops headline entries from the end until the summary line fits") {
    def render(heads: Seq[String]): String =
      s"""{"metric":"total","value":12.5,"unit":"sec","sf":"$sf","runs":3,""" +
        s""""queries":${heads.mkString("{", ",", "}")},"detail":"BENCH_FULL.json"}"""
    val heads = (0 until 300).map(i => f""""q_headline_gate_$i%03d":1.234""")
    assert(render(heads).length > 1900)
    val (line, dropped) = Bench.fitLine(render, heads, 1900)
    assert(line.length <= 1900)
    assert(dropped > 0 && dropped < heads.size)
    assert(line == render(heads.take(heads.size - dropped)))
    assert(render(heads.take(heads.size - dropped + 1)).length > 1900)
    assert(line.startsWith("""{"metric":"total","value":12.5,"unit":"sec","sf":"""))
    val small = heads.take(5)
    assert(Bench.fitLine(render, small, 1900) == (render(small), 0))
  }
}
