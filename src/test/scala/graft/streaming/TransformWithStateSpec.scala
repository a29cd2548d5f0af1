package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.{GraftSession, SparkSpec}

// the RunningTotalProcessor under test lives in graft.streaming (main),
// where the q_stream_tws gate entry also drives it

class TransformWithStateSpec extends SparkSpec {
  import spark.implicits._

  test("transformWithState keeps typed per-key state across micro-batches") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    GraftSession.withConf(spark, providerKey ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, Long)]
      val out = input.toDS()
        .groupByKey(_._1)
        .transformWithState(new RunningTotalProcessor,
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF("k", "add", "total")
        .writeStream.format("memory").queryName("tws_sink")
        .outputMode("update").start()
      try {
        input.addData(("a", 1L), ("b", 2L))
        q.processAllAvailable()
        input.addData(("a", 10L))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_sink")
        .as[(String, Long, Long)].collect().toSet
      // batch 1 emits fresh totals; batch 2's "a" accumulates state
      assert(rows == Set(("a", 1L, 1L), ("b", 2L, 2L), ("a", 10L, 11L)))
    }
  }
}
