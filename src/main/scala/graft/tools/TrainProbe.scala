package graft.tools

import org.apache.spark.sql.functions._

/** Scratch probe: times TransE.train epochs in isolation (the per-epoch
  * Spark overhead is what the gradient-reduction shape changes).
  * Measurement-only; not part of any driver surface. */
object TrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local()
    val ents = graft.graph.GraphBuild.erEntities(spark, sfDir)
    val nEnt = ents.count().toInt
    val nRel = graft.graph.GraphBuild.Relations.size
    val triples = graft.graph.GraphBuild.erTriples(spark, sfDir)
      .withColumn("idx",
        (col("h") * nRel + col("r")) * nEnt + col("t"))
      .localCheckpoint()
    triples.count()
    for (rep <- 1 to 3) {
      val t0 = System.nanoTime()
      val m = graft.sim.TransE.train(spark, triples, nEnt, nRel)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"TRAINPROBE rep$rep ${secs}%.2f s loss0=${m.lossByEpoch(0)}%.3f lossLast=${m.lossByEpoch.last}%.3f")
    }
    spark.stop()
  }
}
