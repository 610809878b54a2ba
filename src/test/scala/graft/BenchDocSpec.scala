package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.RenderBenchDoc

/** BENCH.md is a rendered artifact: any drift between the doc and the
  * checked-in bench JSONs fails the build (rounds 1 and 2 both shipped
  * hand-edited numbers that did not match the shipped JSONs). */
class BenchDocSpec extends AnyFunSuite {

  private val dir = sys.props.getOrElse("user.dir", ".")

  test("BENCH.md matches a fresh render of the artifacts it claims") {
    val doc = Paths.get(dir, "BENCH.md")
    assume(Files.exists(doc), "no BENCH.md in working directory")
    val onDisk = new String(Files.readAllBytes(doc), "UTF-8")
    // Manifest-scoped guard (round 4): verify every section the doc
    // CLAIMS against a fresh render of that artifact — hand-edited
    // numbers still fail — but an artifact the doc does not mention is
    // not drift: the driver writes `BENCH_r0N.json` AFTER the round's
    // final commit, so the builder can never have rendered it.
    val claimed = RenderBenchDoc.claimedArtifacts(onDisk)
    assert(claimed.nonEmpty, "BENCH.md claims no artifact sections")
    claimed.foreach { n =>
      assert(Files.exists(Paths.get(dir, n)),
        s"BENCH.md claims a section for $n but the artifact is gone")
    }
    assert(onDisk == RenderBenchDoc.renderFor(dir, claimed),
      "BENCH.md drifted from the bench JSONs it claims — rerun " +
        "sbt \"Test/runMain graft.tools.RenderBenchDoc <repo dir>\"")
    // Builder-side runs are written and rendered by the same actor in
    // the same commit, so ALL of them must be claimed; only driver
    // rounds may post-date the render.
    val onDiskBuilder = RenderBenchDoc.artifacts(dir).map(_._1)
      .filter(_.startsWith("BENCH_builder_"))
    assert(onDiskBuilder.forall(claimed.contains),
      s"builder bench artifacts missing from BENCH.md: ${onDiskBuilder.filterNot(claimed.contains)}")
  }

  test("every driver bench artifact parses to a stage table") {
    RenderBenchDoc.artifacts(dir).foreach { case (name, j) =>
      assert(RenderBenchDoc.queryTimes(j).nonEmpty, s"$name: no stage times")
      assert(RenderBenchDoc.num(j, "value").nonEmpty, s"$name: no total")
    }
  }
}
