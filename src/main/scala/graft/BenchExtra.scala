package graft

import scala.collection.mutable.LinkedHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipe.{Blocking, Cluster, Splits, Threshold}
import graft.sim.Scorer

/**
 * Bench-shaped stage timer and plan dump at `local[SPARK_GRAFT_CPUS]`
 * (default: every core of the host): times the six flagship stages
 * [[Bench]] times, built from [[Pipeline]]'s stage definitions on the
 * shared [[Sessions.local]] session, WITHOUT the scaling probes, so an
 * optimization iteration costs ~1 min instead of ~18. [[Bench]] keeps
 * its own frozen copy of these stages and of the session; it is the
 * contract surface, this is not.
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

    for (rep <- 1 to repeats) {
      val times = LinkedHashMap[String, Double]()
      def time[T](name: String)(f: => T): T = {
        spark.sparkContext.setJobDescription(s"bench-extra rep$rep $name")
        val t0 = System.nanoTime()
        val r = f
        times(name) = (System.nanoTime() - t0) / 1e9
        r
      }

      // ----- the six timed stages, as Bench.main times them -----
      val keyed = Pipeline.keyRecords(gen.Synth.records(spark, sfDir)).persist()
      val nRecords = time("q_records_keyed")(keyed.count())

      val cand = Blocking.candidates(keyed)
      val nPairs = time("q_blocking_join")(cand.count())

      val scored = Scorer.scoreDF(cand, Scorer.broadcastProjection(spark)).persist()
      time("q_score_pairs")(scored.count())

      val theta = time("q_threshold_sweep") {
        Splits.theta(scored, Pipeline.dist, col("label"))
      }

      val nClusters = time("q_connected_components") {
        Cluster.assign(keyed.select("id"), Pipeline.edgesAt(scored, theta))
          .select(countDistinct("cluster")).head().getLong(0)
      }

      val evalRow = time("q_eval_metrics") {
        Splits.testEval(scored, Pipeline.dist, col("label"), theta).head()
      }
      val f1 = evalRow.getAs[Double]("f1")
      val mrr = evalRow.getAs[Double]("mrr")
      // ----- end timed stages -----

      val total = times.values.sum
      val qs = times.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      println(
        s"""EXTRA {"rep":$rep,"value":$total,"queries":$qs,""" +
        f""""n_records":$nRecords,"n_pairs":$nPairs,"theta":$theta,""" +
        f""""f1":$f1%.6f,"mrr":$mrr%.6f,"n_clusters":$nClusters}""")

      plansDir.filter(_ => rep == repeats).foreach { dir =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        def dump(name: String, df: DataFrame): Unit =
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, s"$name.txt"), plan(df))
        dump("q_records_keyed", keyed)
        dump("q_blocking_join", cand)
        dump("q_score_pairs",
          Scorer.scoreDF(cand, Scorer.broadcastProjection(spark)))
        dump("q_threshold_sweep", Threshold.perBucket(
          Splits.train(scored), Pipeline.dist, col("label")))
        dump("q_eval_metrics",
          Splits.testEval(scored, Pipeline.dist, col("label"), theta))
      }

      keyed.unpersist(true)
      scored.unpersist(true)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
