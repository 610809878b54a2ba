package graft.tools

import org.apache.spark.sql.functions._

import graft.{Pipeline, Sessions}
import graft.pipe.{Blocking, Cluster}
import graft.sim.Scorer

/** Scratch probe for the connected-components stage: decomposes
  * q_connected_components into edges-scan / cc-loop / assign+count.
  * Measurement-only; not part of any driver surface. */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    def t[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"CCPROBE $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }
    val keyed = Pipeline.keyRecords(graft.gen.Synth.records(spark, sfDir)).persist()
    keyed.count()
    val cand = Blocking.candidates(keyed)
    val scored = Scorer.scoreDF(cand, Scorer.broadcastProjection(spark)).persist()
    scored.count()
    val theta = Pipeline.trainTheta(scored)
    for (rep <- 1 to 3) {
      val edges = Pipeline.matchEdges(scored, theta)
      val n = t(s"rep$rep edges_count")(edges.count())
      println(s"CCPROBE rep$rep n_edges $n")
      val cc = t(s"rep$rep cc_loop")(
        Cluster.connectedComponents(edges).localCheckpoint())
      val nc = t(s"rep$rep assign_count") {
        Cluster.assign(keyed.select("id"), edges)
          .select(countDistinct("cluster")).head().getLong(0)
      }
      println(s"CCPROBE rep$rep n_clusters $nc")
    }
    spark.stop()
  }
}
