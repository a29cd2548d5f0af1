package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.streaming.CkptFixtureGen.deleteRecursively

/** The streaming gates' `foreachBatch` sinks read their state or history
  * dir through `StreamingQueries.parquetOrEmpty`: "not written yet"
  * reads as empty, every other read error fails the gate.
  */
class ParquetOrEmptySpec extends SparkSpec {
  private def empty: DataFrame = spark.range(0).toDF("id")

  private def withDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft_parquet_or_empty")
    try body(dir) finally deleteRecursively(dir)
  }

  test("a missing dir reads as the empty frame") {
    withDir { dir =>
      val df = StreamingQueries.parquetOrEmpty(spark, dir.resolve("state").toString)(empty)
      assert(df.columns.toSeq == Seq("id"))
      assert(df.count() == 0)
    }
  }

  test("a parquet dir reads its rows") {
    withDir { dir =>
      val state = dir.resolve("state").toString
      spark.range(5).write.parquet(state)
      val df = StreamingQueries.parquetOrEmpty(spark, state)(empty)
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    }
  }

  test("a dir holding a non-parquet file throws") {
    withDir { dir =>
      Files.writeString(dir.resolve("notes.txt"), "not parquet\n")
      val e = intercept[SparkException] {
        StreamingQueries.parquetOrEmpty(spark, dir.toString)(empty).collect()
      }
      assert(e.getMessage.contains("notes.txt"), e.getMessage)
    }
  }
}
