package graft

/** Dev utility for the optimization rounds: write the FULL
  * `explain("formatted")` output of named gates to
  * `plans/<tag>/<name>_<suffix>.txt`, under the exact Bench session
  * shape ([[GraftSession.builder]]) so the committed plan is the plan
  * the bench actually runs.  Never used by the driver.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <gate> [gate ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <gate>...")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    args.drop(2).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote ${name}_$suffix.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage.take(200)}")
      }
    }
    spark.stop()
  }
}
