package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipe.Splits
import graft.sim.Scorer

/**
 * Bench-shaped stage timer and plan dump at `local[SPARK_GRAFT_CPUS]`
 * (default: every core of the host): times [[Bench.stages]], the six
 * flagship stages [[Bench]] times, on the same [[Sessions.local]]
 * session after the same untimed [[Pipeline.warm]], WITHOUT the
 * scaling probes, so an optimization iteration costs ~1 min instead
 * of ~18.
 *
 * Usage: `sbt "runMain graft.BenchExtra [repeats] [plansDir]"`.
 *  - repeats: stage sweep runs this many times in ONE JVM. Repeat 1 is
 *    cold-JIT (what the driver's fresh-JVM bench measures); later
 *    repeats are warm (the steady-state capability). Caches are cleared
 *    between repeats so every repeat recomputes from parquet.
 *  - plansDir: when given, writes `<stage>.txt` explain("formatted")
 *    plans for every stage into it (plan evidence for plans/r06/).
 */
object BenchExtra {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val repeats = if (args.length >= 1) args(0).toInt else 1
    val plansDir = if (args.length >= 2) Some(args(1)) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()

    Pipeline.warm(spark, sfDir)

    for (rep <- 1 to repeats) {
      val r = Bench.stages(spark, sfDir)
      println(
        s"""EXTRA {"rep":$rep,"value":${r.total},"queries":${r.queries},""" +
        f""""n_records":${r.nRecords},"n_pairs":${r.nPairs},"theta":${r.theta},""" +
        f""""f1":${r.f1}%.6f,"mrr":${r.mrr}%.6f,"n_clusters":${r.nClusters}}""")

      plansDir.filter(_ => rep == repeats).foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        def dump(name: String, df: DataFrame): Unit =
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"$name.txt"), plan(df))
        dump("q_records_keyed", r.keyed)
        dump("q_blocking_join", r.candidates)
        dump("q_score_pairs",
          Scorer.scoreDF(r.candidates, Scorer.broadcastProjection(spark)))
        dump("q_threshold_sweep", Splits.Tally.frame(
          r.scored, Pipeline.dist, col("label"), invStep = 50))
        dump("q_eval_metrics",
          Splits.testEval(r.scored, Pipeline.dist, col("label"), r.theta))
      }

      r.keyed.unpersist(true)
      r.scored.unpersist(true)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
