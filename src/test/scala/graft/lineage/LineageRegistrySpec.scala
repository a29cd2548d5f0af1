package graft.lineage

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.LongType

import graft.SparkSpec

/** The registry's keys: checkpoint lineage lives and dies with its RDD
  * object, write lineage follows the storage location, and a failed
  * capture is announced once per site.
  */
class LineageRegistrySpec extends SparkSpec {

  /** Run [[TwoContextProbe]] in a child JVM on this JVM's class path and
    * options (a smaller heap) and return its `probe` lines by name. */
  private def probe(): Map[String, String] = {
    val jvm = ManagementFactory.getRuntimeMXBean
    val opts = jvm.getInputArguments.asScala.filterNot(a =>
      a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ opts ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        "graft.lineage.TwoContextProbe")
    val log = java.io.File.createTempFile("graft_two_context", ".log")
    try {
      val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
        .redirectOutput(log).start()
      if (!p.waitFor(300, TimeUnit.SECONDS)) {
        p.destroyForcibly()
        fail("two-context probe did not finish in 300 s")
      }
      val out = java.nio.file.Files.readAllLines(log.toPath).asScala.toList
      assert(p.exitValue() == 0,
        s"probe exited ${p.exitValue()}:\n${out.takeRight(40).mkString("\n")}")
      out.filter(_.startsWith("probe ")).map { l =>
        val name :: rest = l.stripPrefix("probe ").split(" ", 2).toList: @unchecked
        name -> rest.mkString
      }.toMap
    } finally log.delete()
  }

  private def field(line: String, key: String): String =
    line.split(" ").collectFirst { case f if f.startsWith(s"$key=") =>
      f.stripPrefix(s"$key=") }.getOrElse(fail(s"no $key= in '$line'"))

  test("a second SparkContext's reused RDD id and table name get none of " +
      "the first context's lineage") {
    val lines = probe()
    val cp = lines.getOrElse("checkpoint", fail(s"no checkpoint line: $lines"))
    // the collision is what makes the case: the same RDD id twice
    assert(field(cp, "rdd1") == field(cp, "rdd2"), cp)
    assert(field(cp, "x") == "LogicalRDD.x",
      s"session 2's x must trace to its own RDD leaf: $cp")
    val wr = lines.getOrElse("write", fail(s"no write line: $lines"))
    assert(field(wr, "loc1") != field(wr, "loc2"), wr)
    assert(field(wr, "x") == "t.x",
      s"session 2's x must trace to its own table t: $wr")
  }

  /** Capture a checkpoint over an RDD only this method references and
    * return a weak reference to it. */
  private def capturedRdd(): java.lang.ref.WeakReference[AnyRef] = {
    val rdd = spark.sparkContext.parallelize(Seq(InternalRow(1L)), 1)
    val post = LogicalRDD(Seq(AttributeReference("x", LongType)()), rdd)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    LineageRegistry.capture(
      spark.range(3).selectExpr("id + 1 AS x").queryExecution.analyzed, post)
    val hops = LineageRegistry.checkpointHops(rdd)
    assert(hops.map(_.map(_.sources.map(_.column))) == Some(Vector(Set("id"))),
      s"capture must register x's hop under the RDD: $hops")
    new java.lang.ref.WeakReference(rdd)
  }

  test("a checkpoint's registry entry does not keep its RDD alive") {
    val ref = capturedRdd()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null,
      "the RDD is still reachable: a registry key or hop pins it")
  }

  test("guarded never throws and announces a site's first failure once") {
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err, true)) {
      LineageRegistry.guarded("spec probe")(
        throw new IllegalStateException("first"))
      LineageRegistry.guarded("spec probe")(
        throw new IllegalArgumentException("second"))
    }
    val lines = err.toString("UTF-8").linesIterator.toList
    assert(lines == List("[lineage] spec probe capture failed: " +
      "java.lang.IllegalStateException: first"), lines.mkString("\n"))
  }
}
