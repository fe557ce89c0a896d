package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Census of the operator-facing surface under src/main/scala: the
  * `SPARK_GRAFT_*` environment knobs it names and the objects that define
  * `def main`. Both sets are pinned to explicit lists, so a new knob or
  * entry point (or a stale one kept after its code is gone) is a
  * deliberate, reviewed edit here. */
class CensusSpec extends AnyFunSuite {

  private val Knobs = Set(
    "SPARK_GRAFT_BENCH_QCUT", "SPARK_GRAFT_COARSE_ASSIGN_CELLS",
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_EF_SWEEP", "SPARK_GRAFT_GROUP_ROWS",
    "SPARK_GRAFT_HIER_TRAIN_CELLS", "SPARK_GRAFT_LOAD_GATE",
    "SPARK_GRAFT_LOAD_WAIT", "SPARK_GRAFT_MSEG_DEG", "SPARK_GRAFT_MSEG_N",
    "SPARK_GRAFT_MSEG_SEGS", "SPARK_GRAFT_PROBE_AQE",
    "SPARK_GRAFT_SESS_BIG_ROWS", "SPARK_GRAFT_SESS_TIMING",
    "SPARK_GRAFT_SF_DIR")

  private val EntryPoints = Set(
    "graft.Bench", "graft.BuildBench", "graft.Explain", "graft.ScaleBench",
    "graft.ScaleDedupBench", "graft.ScaleLshBench", "graft.Verify",
    "graft.tools.Bm25Micro", "graft.tools.BuildPhaseMicro",
    "graft.tools.BuildPhaseProbe", "graft.tools.CcScaleBench",
    "graft.tools.ClusterBuildDecomp", "graft.tools.ClusteredLifecycleProbe",
    "graft.tools.CompactMicro", "graft.tools.CorpusScaleBench",
    "graft.tools.EffortProbe", "graft.tools.FlatXentProfile",
    "graft.tools.GateSmoke", "graft.tools.HierBench",
    "graft.tools.HierScaleBench", "graft.tools.IvfPqMicro",
    "graft.tools.IvfProbe", "graft.tools.KernelAB",
    "graft.tools.MsegBuildProbe", "graft.tools.MsegProbeSweep",
    "graft.tools.MsegProfile", "graft.tools.PagedMicro",
    "graft.tools.PinnedTailProbe", "graft.tools.PipelineDemo",
    "graft.tools.PqBuildMicro", "graft.tools.RecallProbe",
    "graft.tools.RouteMicro", "graft.tools.RoutedFilteredProbe",
    "graft.tools.ScaleVecsBench", "graft.tools.SessScaleMicro",
    "graft.tools.SimdMicro", "graft.tools.SpanScaleBench",
    "graft.tools.TopKMicro", "graft.tools.TrainScaleMicro")

  private lazy val sources: Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (no $root)")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => new String(Files.readAllBytes(p), UTF_8))
    finally walk.close()
  }

  private def diff(found: Set[String], pinned: Set[String]): String =
    s"unlisted: ${(found -- pinned).toSeq.sorted}; " +
      s"listed but gone: ${(pinned -- found).toSeq.sorted}"

  test(s"src/main/scala names exactly the ${Knobs.size} pinned SPARK_GRAFT_* knobs") {
    val found = sources.flatMap("SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(_)).toSet
    assert(found == Knobs, diff(found, Knobs))
  }

  test(s"src/main/scala defines exactly the ${EntryPoints.size} pinned def-main objects") {
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    val Obj = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    val found = sources.flatMap { src =>
      val pkg = Pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      val objs = Obj.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
      """\bdef main\(""".r.findAllMatchIn(src).map { m =>
        pkg + objs.filter(_._1 < m.start).lastOption.map(_._2).getOrElse("?")
      }
    }.toSet
    assert(found == EntryPoints, diff(found, EntryPoints))
  }
}
