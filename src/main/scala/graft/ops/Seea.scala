package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.GraphBuild
import graft.pipe.Splits
import graft.sim.RLTransE

/**
 * SEEA — self-learning embedding-based entity alignment
 * (/root/reference/EAR/seea.py:307-342): each iteration RE-TRAINS the
 * embeddings on seed ∪ previously-accepted links, scores the remaining
 * candidate pairs, accepts the top-beta MUTUALLY-nearest pairs (argmin
 * over idA AND over idB agree, seea.py:252-286), removes every pair
 * touching an accepted endpoint, and repeats until nothing qualifies
 * or maxIter.
 *
 * The embedding model here is [[RLTransE]] over the VEG graph derived
 * from the CURRENT link set ([[GraphBuild.vegTriplesFor]]), so newly
 * accepted pairs genuinely feed back: they extend the per-relation
 * value vocabularies and re-weight the evolution translations before
 * the next round scores — the engine analogue of the reference
 * retraining TF embeddings per iteration. Because fields survive the
 * content scrambling tier, this loop recovers true pairs the
 * string-distance pipeline loses (see [[iterateFixedScores]], the
 * round-1 fixed-score baseline kept for comparison).
 *
 * Driver-orchestrated loop over DataFrames with localCheckpoint per
 * round (bounded lineage), exactly like the CC loop.
 */
object Seea {

  /** The mutually nearest pairs of `pairs` (idA, idB, dist, ...): each
    * is rank 1 by (dist, other id) from both its idA and its idB side
    * (seea.py:252-286) — the `beta` closest of them, by (dist, idA). */
  def mutualBest(pairs: DataFrame, beta: Int): DataFrame = {
    val wa = Window.partitionBy("idA").orderBy(col("dist").asc, col("idB").asc)
    val wb = Window.partitionBy("idB").orderBy(col("dist").asc, col("idA").asc)
    pairs
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter(col("ra") === 1 && col("rb") === 1)
      .drop("ra", "rb")
      .orderBy(col("dist").asc, col("idA").asc)
      .limit(beta)
  }

  /**
   * Self-learning loop with per-round retraining.
   *
   * @return accepted pairs (idA, idB, dist, label, iteration)
   */
  def iterate(spark: SparkSession, sfDir: String, beta: Int = 200,
              maxDist: Double = 0.9, maxIter: Int = 5,
              epochs: Int = 60): DataFrame = {
    import spark.implicits._
    // alignment seed = the known train-split links (the reference seeds
    // SEEA with its prior alignment)
    val seed = Splits.train(graft.EntryStages.cand(spark, sfDir)
        .filter(col("dni_a") === col("dni_b")))
      .select("idA", "idB").localCheckpoint()
    var links = seed
    var remaining = Splits.test(graft.EntryStages.cand(spark, sfDir))
      .select(col("idA"), col("idB"),
        (col("dni_a") === col("dni_b")).cast("long").as("label"))
      .localCheckpoint()
    var accepted: DataFrame = null
    var iter = 0
    var done = false
    while (iter < maxIter && !done && !remaining.isEmpty) {
      // retrain on seed + everything accepted so far
      val model = RLTransE.trainOn(spark,
        GraphBuild.vegTriplesFor(spark, sfDir, links),
        RLTransE.Config(epochs = epochs))
      val fieldCols = RLTransE.ScoredRels.map(r => col(s"f_$r"))
      val scores = RLTransE.fieldScores(spark, sfDir, model)
        .withColumn("dist", fieldCols.reduce(_ + _))
        .select("idA", "idB", "dist")
      val scored = remaining.join(scores, Seq("idA", "idB"))
        .filter(col("dist") <= maxDist)
      val mutual = mutualBest(scored, beta)
        .select(col("idA"), col("idB"), col("dist"), col("label"),
          lit(iter.toLong).as("iteration"))
        .localCheckpoint()
      if (mutual.isEmpty) done = true
      else {
        accepted = if (accepted == null) mutual
          else accepted.unionByName(mutual).localCheckpoint()
        links = links.unionByName(mutual.select("idA", "idB"))
          .localCheckpoint()
        remaining = remaining
          .join(mutual.select(col("idA")), Seq("idA"), "left_anti")
          .join(mutual.select(col("idB")), Seq("idB"), "left_anti")
          .localCheckpoint()
      }
      iter += 1
    }
    if (accepted == null)
      Seq.empty[(Long, Long, Double, Long, Long)]
        .toDF("idA", "idB", "dist", "label", "iteration")
    else accepted
  }

  /**
   * The round-1 baseline: mutual-NN loop over FIXED string-similarity
   * scores (no retraining) on the same test-split pool — kept so the
   * self-learning gain is measurable.
   */
  def iterateFixedScores(spark: SparkSession, sfDir: String,
                         beta: Int = 200, maxDist: Double = 0.5,
                         maxIter: Int = 10): DataFrame = {
    import spark.implicits._
    var remaining = Splits.test(graft.EntryStages.scoredp(spark, sfDir))
      .select(col("idA"), col("idB"), col("dist"), col("label"))
      .filter(col("dist") <= maxDist)
      .localCheckpoint()
    var accepted: DataFrame = null
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val mutual = mutualBest(remaining, beta)
        .select(col("idA"), col("idB"), col("dist"), col("label"),
          lit(iter.toLong).as("iteration"))
        .localCheckpoint()
      val n = mutual.count()
      if (n == 0) done = true
      else {
        accepted = if (accepted == null) mutual
          else accepted.unionByName(mutual).localCheckpoint()
        remaining = remaining
          .join(mutual.select(col("idA")), Seq("idA"), "left_anti")
          .join(mutual.select(col("idB")), Seq("idB"), "left_anti")
          .localCheckpoint()
        if (remaining.isEmpty) done = true
      }
      iter += 1
    }
    if (accepted == null)
      Seq.empty[(Long, Long, Double, Long, Long)]
        .toDF("idA", "idB", "dist", "label", "iteration")
    else accepted
  }
}
