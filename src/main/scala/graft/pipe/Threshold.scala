package graft.pipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Single-pass optimal-threshold sweep.
 *
 * Reference: `get_optimal_threshold` re-filters the whole scored list
 * once per grid point (~18-150 passes,
 * /root/reference/common.py:250-273). Here one bucketed cumulative
 * window computes F1 for EVERY theta in a single shuffle
 * (SURVEY.md §2.4): bucket = ceil(dist * invStep); cumulative
 * (pairs, true pairs) over buckets gives TP/FP/FN per theta.
 *
 * All F1 values derive from integer counts, so results are
 * bit-reproducible and oracle-comparable.
 */
object Threshold {

  /**
   * Full sweep table: (theta, tp, fp, fn, f1) per grid point, for
   * `dist` in [0, maxDist] at step 1/invStep.
   */
  def sweep(scored: DataFrame, dist: Column, label: Column,
            invStep: Int = 50): DataFrame = {
    val bucketed = scored.select(
      ceil(dist * invStep).cast("int").as("bucket"),
      label.cast("long").as("lbl"))
    val perBucket = bucketed.groupBy("bucket").agg(
      count(lit(1)).as("n"), sum("lbl").as("npos"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totPos = sum("npos").over(
      Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    perBucket
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("tp", sum("npos").over(w))
      .withColumn("total_pos", totPos)
      .select(
        (col("bucket") / invStep.toDouble).as("theta"),
        col("tp"),
        (col("cum_n") - col("tp")).as("fp"),
        (col("total_pos") - col("tp")).as("fn"))
      .withColumn("f1",
        when(col("tp") === 0, 0.0).otherwise(
          col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn"))))
  }

  /** Best (theta, f1, tp, fp, fn): max F1, smallest theta on ties. */
  def best(scored: DataFrame, dist: Column, label: Column,
           invStep: Int = 50): DataFrame =
    sweep(scored, dist, label, invStep)
      .orderBy(desc("f1"), asc("theta"))
      .limit(1)

  /** The chosen threshold as a Scala value (tiny driver-side fetch). */
  def bestTheta(scored: DataFrame, dist: Column, label: Column,
                invStep: Int = 50): Double =
    best(scored, dist, label, invStep).select("theta").head().getDouble(0)

  /**
   * Robust threshold for the flagship decision: the midpoint of the
   * max-F1 plateau instead of its left edge. The reference's argmax
   * picks the SMALLEST optimal theta (np.argmax on an ascending grid,
   * /root/reference/common.py:250-273), which sits right at the
   * decision boundary and generalizes poorly to unseen splits; the
   * plateau midpoint keeps train F1 identical and maximizes margin.
   * Integer bucket arithmetic -> deterministic.
   */
  def bestThetaRobust(scored: DataFrame, dist: Column, label: Column,
                      invStep: Int = 50): Double =
    plateauTheta(scored, dist, label, invStep).getOrElse(0.0)

  /** [[bestThetaRobust]], or None when `scored` is empty: the sweep
    * collects one row per non-empty bucket, so none for an empty input. */
  private[pipe] def plateauTheta(scored: DataFrame, dist: Column,
                                 label: Column, invStep: Int): Option[Double] = {
    // the sweep materializes only non-empty buckets; the F1-max plateau
    // extends from its first bucket to just before the next bucket
    // whose F1 degrades (empty buckets in between keep F1 constant).
    // round(), NOT ceil(): theta = bucket/invStep is not binary-exact
    // (56/50.0*50 = 56.0000000000000053), so ceil() COLLIDED adjacent
    // buckets and could merge a plateau row with its degrading
    // neighbour — round() is the exact inverse of the sweep's /invStep.
    val rows = sweep(scored, dist, label, invStep)
      .select(round(col("theta") * invStep).cast("long").as("b"), col("f1"))
      .orderBy("b").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    if (rows.isEmpty) return None
    val fmax = rows.map(_._2).max
    val blo = rows.find(_._2 == fmax).get._1
    val bhi = rows.collectFirst {
      case (b, f) if b > blo && f < fmax => b - 1
    }.getOrElse(blo)
    Some(((blo + bhi) / 2) / invStep.toDouble)
  }
}
