package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Assignment
import graft.pipe.Splits

/**
 * HTransE — the reference's household/block-assignment composite score
 * (/root/reference/tests/test_transe_household.py:119-158 census,
 * 59-76 CORA; thesis Tables 5.2-5.4 row HTransE): per candidate pair,
 * Hungarian-solve the pair's BLOCK (household) member-vs-member cosine
 * cost matrix over the trained TransE entity embeddings, then
 *
 *   dist = assignment_cost_sum            if the pair itself is one of
 *                                         the optimal assignment's
 *                                         cells (the reference's
 *                                         "pair in min. cost matrix"
 *                                         branch), else
 *   dist = assignment_cost_sum + pair_cosine_distance
 *
 * normalized by the reference's fixed max_distance = 10, followed by
 * the usual train-split theta sweep and test-split F1/IR metrics.
 *
 * Scale shape: everything reuses verified distributed pieces — the
 * memoized [[TransE.pairScores]] pass (broadcast model, one
 * mapPartitions), [[Assignment.assignedCells]] (per-endpoint pruning
 * before the block shuffle, dense Hungarian only under `maxSide`,
 * sparse greedy past it), and two hash joins keyed on the pair /
 * block. No driver-side loops; the blocks' solver tasks are the same
 * bounded kernels `block_assignment` ships.
 *
 * The Hungarian kernel is sequential per block, so the registered
 * query is rows-only by design (like `block_assignment`); HTransESpec
 * pins the composite's exact semantics on a hand-solvable block and
 * the F1 band at sf0.001.
 */
object HTransE {

  /** The reference's census normalizer (test_transe_household.py:167
    * `max_distance = 10`). */
  final val MaxDistance = 10.0

  /** Per-pair composite scores:
    * (idA, idB, block_key, dist, label, split_a, split_b). */
  def pairScores(spark: SparkSession, sfDir: String,
                 cfg: TransE.Config = TransE.Config(),
                 maxSide: Int = 30, topR: Int = 5): DataFrame =
    graft.EntryStages.memo(spark, sfDir,
      s"htranse_pairs:${cfg.dim}:${cfg.epochs}:$maxSide:$topR") {
      val base = TransE.pairScores(spark, sfDir, cfg)
        .withColumn("pair_dist", abs(lit(1.0) - col("cos")))
      val cells = Assignment.assignedCells(
        base.select(col("block_key"), col("idA"), col("idB"),
          col("pair_dist").as("dist")),
        maxSide, topR)
      val blockCost = cells.groupBy("block_key")
        .agg(sum("cell_micros").as("block_cost_micros"))
      // block costs are one row per block — broadcastable at any SF
      // where blocks fit a task (they must, for the solver)
      base
        .join(broadcast(blockCost), Seq("block_key"), "left")
        .join(cells.select(col("block_key"), col("idA"), col("idB"),
          lit(1L).as("in_assignment")),
          Seq("block_key", "idA", "idB"), "left")
        .select(col("idA"), col("idB"), col("block_key"),
          ((coalesce(col("block_cost_micros"), lit(0L)) / 1e6 +
            when(col("in_assignment").isNotNull, lit(0.0))
              .otherwise(col("pair_dist"))) / MaxDistance).as("dist"),
          col("label"), col("split_a"), col("split_b"))
    }

  /** Summary row (same shape as transe_eval): theta swept on the
    * TRAIN split, F1/MRR on the TEST split. */
  def eval(spark: SparkSession, sfDir: String,
           cfg: TransE.Config = TransE.Config()): DataFrame =
    Splits.summary(pairScores(spark, sfDir, cfg), // memo-persisted
      col("dist"), cfg.dim, cfg.epochs)
}
