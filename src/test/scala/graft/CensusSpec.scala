package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Census of the operator-facing surface: the `SPARK_GRAFT_*` environment
  * knobs that src/main/scala and build.sbt name, and the objects under
  * src/main/scala and src/test/scala that define `def main`. Each set is
  * pinned to an explicit list, so a new knob or entry point (or a stale
  * one kept after its code is gone) is a deliberate, reviewed edit here. */
class CensusSpec extends AnyFunSuite {

  private val Knobs = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_MSEG_N", "SPARK_GRAFT_MSEG_SEGS",
    "SPARK_GRAFT_SF_DIR")

  private val EntryPoints = Set(
    "graft.Bench", "graft.Explain", "graft.Verify",
    "graft.tools.ClusterBuildDecomp")

  private val TestEntryPoints = Set("graft.RunQuery")

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def scalaSources(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.map(read)
    finally walk.close()
  }

  private def mainObjects(sources: Seq[String]): Set[String] = {
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    val Obj = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    sources.flatMap { src =>
      val pkg = Pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objs = Obj.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
      """\bdef main\(""".r.findAllMatchIn(src).map { m =>
        pkg + objs.filter(_._1 < m.start).lastOption.map(_._2).getOrElse("?")
      }
    }.toSet
  }

  private def diff(found: Set[String], pinned: Set[String]): String =
    s"unlisted: ${(found -- pinned).toSeq.sorted}; " +
      s"listed but gone: ${(pinned -- found).toSeq.sorted}"

  test(s"src/main/scala and build.sbt name exactly the ${Knobs.size} pinned SPARK_GRAFT_* knobs") {
    val texts = scalaSources("src/main/scala") :+ read(Paths.get("build.sbt"))
    val found = texts.flatMap("SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(_)).toSet
    assert(found == Knobs, diff(found, Knobs))
  }

  test(s"src/main/scala defines exactly the ${EntryPoints.size} pinned def-main objects") {
    val found = mainObjects(scalaSources("src/main/scala"))
    assert(found == EntryPoints, diff(found, EntryPoints))
  }

  test(s"src/test/scala defines exactly the ${TestEntryPoints.size} pinned def-main objects") {
    val found = mainObjects(scalaSources("src/test/scala"))
    assert(found == TestEntryPoints, diff(found, TestEntryPoints))
  }
}
