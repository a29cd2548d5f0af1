package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, Tables}

/** Batch reads over Structured Streaming STATE — Spark's `statestore`
  * DataSource (plus its `state-metadata` companion, spec-covered in
  * `StateStoreReadSpec`).  This is the operational surface for
  * debugging / auditing / repairing a streaming pipeline's state at
  * rest: run an aggregation to a checkpoint, then query the persisted
  * per-key state as a plain DataFrame.
  *
  * The gate proves the round-trip: a streaming count+sum aggregation
  * over the events table is driven to completion (Trigger.AvailableNow,
  * two micro-batches so state genuinely merges across batches), the
  * checkpoint's state is read BACK through the statestore source, and
  * the recovered (key, aggregate) pairs must equal the batch answer
  * DuckDB computes from the raw table.  Money sums go through
  * DECIMAL(12,2) on both sides (exact, order-independent).
  *
  * Scale shape: state is partitioned by the shuffle hash of the group
  * key; the statestore source reads one partition per state-store
  * instance in parallel — no driver materialization anywhere.
  */
object StateStoreQueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "q_statestore_read" -> { (s, dir) =>
      GraftSession.withConf(s, "spark.sql.shuffle.partitions" -> "4") {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("value"))
        val in = graft.TmpCleanup.tempDir("graft_ss_in")
        ev.repartition(4).write.mode("overwrite").parquet(in)
        val ckpt = graft.TmpCleanup.tempDir("graft_ss_ckpt")
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 2).parquet(in)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(12,2)")).as("total_dec"))
          .writeStream
          .format("noop")
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val st = s.read.format("statestore").load(ckpt)
        // the state value struct carries the agg buffer in declaration
        // order (count, sum); resolve by position, not buffer-internal
        // field names
        val vf = st.schema("value").dataType.asInstanceOf[StructType].fieldNames
        st.select(col("key.user_id").as("user_id"),
            col(s"value.${vf(0)}").cast("long").as("n"),
            col(s"value.${vf(1)}").cast("double").as("total"))
          .orderBy("user_id")
      }
    })

  val oracle: Map[String, String] = Map(
    "q_statestore_read" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
