package graft.plans

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level source lint: no control byte below 0x09 (TAB) may appear
  * in any `.scala` file under `src/`.  A single raw NUL in a string
  * literal makes git/grep treat the whole file as binary — diffs stop
  * rendering and every line-based tool silently skips it.  This class
  * of defect recurred twice (MemCatalog round 13, Checks.scala round
  * 14), so like the collect/cartesian/window whitelists it is now
  * machine-checked instead of hand-fixed: write the backslash-u
  * escaped form in string literals, never the raw byte.
  *
  * The same scan holds the library's switches to a fixed list: every
  * environment variable `src/main` reads is named in [[EnvAllowed]],
  * and no `spark.graft.*` session conf exists.  A new switch has to be
  * added to the list on purpose, next to the gate that proves it.
  *
  * Likewise every catch that swallows any error (`case _: Exception`,
  * `case _: Throwable`, `NonFatal(_)`) in `src/main` is named, with its
  * reason, in [[SwallowAllowed]].  The list may only shrink: a new site
  * fails the test, and so does an entry whose site is gone.
  */
class ByteLintSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): List[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private val EnvAllowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_BENCH_RUNS",
    "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_SF3_DIR")

  /** (file under `src/main`, reason), one entry per swallowing catch. */
  private val SwallowAllowed = Seq(
    "graft/TmpCleanup.scala" ->
      "best-effort scratch delete: never fail shutdown",
    "graft/lineage/LineageRegistry.scala" ->
      ("LineageRegistry.guarded: checkpoint, write and sink capture must not " +
        "fail their caller; the first failure per site is announced"),
    "graft/lineage/StreamingLineage.scala" ->
      ("stream lineage capture must not fail the stream; a start event " +
        "racing plan initialization fails as expected, progress re-captures"),
    "graft/queries/FuzzQueries.scala" ->
      "seed probe tool: -1 marks a candidate seed whose query fails")

  test("no .scala file under src/ contains a raw byte < 0x09") {
    val offenders = scalaFiles("src").flatMap { p =>
      val bytes = Files.readAllBytes(p)
      val bad = bytes.indices.filter(i => (bytes(i) & 0xff) < 0x09)
      if (bad.isEmpty) None
      else Some(s"$p: raw byte(s) < 0x09 at offset(s) ${bad.take(5).mkString(", ")}" +
        (if (bad.size > 5) s" (+${bad.size - 5} more)" else ""))
    }
    assert(offenders.isEmpty,
      "raw control bytes in source (write the \\u0000 escape instead):\n  " +
        offenders.mkString("\n  "))
  }

  test("src/main reads only the allowed env vars and sets no spark.graft conf") {
    val read = """(?:sys\.env|System\.getenv)(?:\.(?:get|getOrElse|contains))?\(\s*"([^"]*)"""".r
    val any = """sys\.env|System\.getenv""".r
    val offenders = scalaFiles("src/main").flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val keys = read.findAllMatchIn(text).map(_.group(1)).toList
      val unkeyed = any.findAllMatchIn(text).size - keys.size
      keys.filterNot(EnvAllowed).map(k => s"$p: reads env var $k") ++
        (if (unkeyed > 0) List(s"$p: $unkeyed env read(s) without a literal key") else Nil) ++
        (if (text.contains("\"spark.graft.")) List(s"$p: names a spark.graft.* conf") else Nil)
    }
    assert(offenders.isEmpty, "switches outside the allow-list:\n  " +
      offenders.mkString("\n  "))
  }

  test("every error-swallowing catch in src/main is on the allow-list") {
    val swallow = """case\s+_\s*:\s*(?:[\w.]*\.)?(?:Exception|Throwable)\b|NonFatal\(\s*_\s*\)""".r
    val root = Paths.get("src/main/scala")
    val found = scalaFiles(root.toString).flatMap { p =>
      val rel = root.relativize(p).toString
      swallow.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map(_ => rel)
    }.groupBy(identity).view.mapValues(_.size).toMap
    val allowed = SwallowAllowed.groupBy(_._1).view.mapValues(_.size).toMap
    val offenders = (found.keySet ++ allowed.keySet).toList.sorted.flatMap { f =>
      val (n, a) = (found.getOrElse(f, 0), allowed.getOrElse(f, 0))
      if (n > a) List(s"$f: ${n - a} swallowing catch(es) not on the allow-list")
      else if (n < a) List(s"$f: ${a - n} allow-list entr(ies) with no site left; drop them")
      else Nil
    }
    assert(offenders.isEmpty, "error-swallowing catches:\n  " + offenders.mkString("\n  "))
  }
}
