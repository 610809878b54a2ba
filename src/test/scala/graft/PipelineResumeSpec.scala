package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ckpt.Checkpoint

/**
 * Mid-pipeline resume over the REAL flagship pipeline (north rule:
 * "resumable from checkpoint with per-partition lineage + metrics").
 * The reference's analogue is the all-or-nothing graph text cache
 * (/root/reference/ER/model.py:28-59); here each stage resumes
 * independently: after deleting one mid-pipeline checkpoint, upstream
 * stages are SERVED (run_id unchanged — no recompute), the deleted
 * stage is recomputed (fresh run_id), and the end-to-end summary is
 * bit-identical to the first run.
 */
class PipelineResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("pipeline resumes mid-stream: upstream served, deleted stage recomputed, output identical") {
    TempRoot("graft-resume") { root =>
      val sf = SparkTestSession.sf0001

      val out1 = Pipeline.run(spark, sf, Some(root))
      val summary1 = out1.summary.collect().toSeq
      def runId(stage: String): String =
        Checkpoint.meta(root, stage).get("run_id")
      val keyedRun1 = runId("keyed")
      val candRun1 = runId("candidates")
      val scoredRun1 = runId("scored")

      // lineage + metrics recorded per stage
      for (st <- Seq("keyed", "candidates", "scored", "clusters")) {
        val m = Checkpoint.meta(root, st).get
        assert(m("rows").toLong > 0, s"$st rows")
        assert(m("input_fingerprint").nonEmpty && m("run_id").nonEmpty)
      }

      // kill the mid-pipeline 'scored' checkpoint (data + sidecar)
      Checkpoint.deleteTree(Paths.get(s"$root/scored"))
      Files.deleteIfExists(Paths.get(s"$root/scored._meta.json"))

      val out2 = Pipeline.run(spark, sf, Some(root))
      assert(runId("keyed") == keyedRun1, "keyed must resume from checkpoint")
      assert(runId("candidates") == candRun1, "candidates must resume")
      assert(runId("scored") != scoredRun1, "scored must be recomputed")
      assert(out2.summary.collect().toSeq == summary1,
        "resumed run must reproduce the first run bit-for-bit")
    }
  }

  test("a scored checkpoint from another scorer is recomputed; keyed and candidates are served") {
    val sf = SparkTestSession.sf0001

    // every folded scorer value moves the scored fingerprint, and only
    // it; every folded input value moves both
    val (input, scored) = Pipeline.fingerprints(sf)
    for (i <- Pipeline.ScorerKey.indices) {
      val (otherInput, otherScored) = Pipeline.fingerprints(sf,
        Pipeline.ScorerKey.updated(i, Pipeline.ScorerKey(i) + "1"))
      assert(otherInput == input && otherScored != scored, Pipeline.ScorerKey(i))
    }
    for (i <- Pipeline.InputKey.indices) {
      val (otherInput, otherScored) = Pipeline.fingerprints(sf, input =
        Pipeline.InputKey.updated(i, Pipeline.InputKey(i) + "1"))
      assert(otherInput != input && otherScored != scored, Pipeline.InputKey(i))
    }

    TempRoot("graft-resume-fp") { root =>
      def runId(stage: String): String = Checkpoint.meta(root, stage).get("run_id")
      val summary1 = Pipeline.run(spark, sf, Some(root)).summary.collect().toSeq
      val (keyed1, cand1, scored1) = (runId("keyed"), runId("candidates"), runId("scored"))
      // the scored commit as a build with another JW weight would have left it
      val stale = Pipeline.fingerprints(sf,
        Pipeline.ScorerKey.updated(0, s"w_jw=${graft.sim.Scorer.WJw + 0.05}"))._2
      val meta = Paths.get(s"$root/scored._meta.json")
      Files.writeString(meta, Files.readString(meta).replace(scored, stale))
      assert(Checkpoint.meta(root, "scored").get("input_fingerprint") == stale)

      val summary2 = Pipeline.run(spark, sf, Some(root)).summary.collect().toSeq
      assert(runId("keyed") == keyed1 && runId("candidates") == cand1,
        "keyed and candidates must be served")
      assert(runId("scored") != scored1, "scored must be recomputed")
      assert(Checkpoint.meta(root, "scored").get("input_fingerprint") == scored)
      assert(summary2 == summary1)
    }
  }
}
