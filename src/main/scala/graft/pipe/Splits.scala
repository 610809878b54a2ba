package graft.pipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.eval.Metrics

/**
 * The train/test evaluation protocol every linkage experiment follows
 * (the reference's `get_optimal_threshold`, `common.py:250-273`,
 * SURVEY.md §2.4): tune theta on the train-split pairs, report
 * metrics on the test-split pairs. A pair is in a split when both of
 * its records are (`split_a`, `split_b` columns). This is the only
 * code that knows which pairs tune theta and which pairs are
 * reported.
 */
object Splits {

  private def both(split: String): Column =
    col("split_a") === split && col("split_b") === split

  /** Pairs whose two records are both in the train split. */
  def train(pairs: DataFrame): DataFrame = pairs.filter(both("train"))

  /** Pairs whose two records are both in the test split: the reported
    * pairs. */
  def test(pairs: DataFrame): DataFrame = pairs.filter(both("test"))

  /** Pairs with neither record in the test split (train ∪ val on both
    * sides): the leak-free fallback of [[theta]]. */
  def nonTest(pairs: DataFrame): DataFrame =
    pairs.filter(col("split_a") =!= "test" && col("split_b") =!= "test")

  /**
   * The robust theta ([[Threshold.bestThetaRobust]]) swept on the
   * train pairs, never on the reported ones. Without train pairs it
   * falls back to the non-test pairs: never to a set holding test
   * pairs, whose labels would leak into the threshold and inflate the
   * reported F1. Without those either it sweeps every pair and warns
   * on stderr that the test metrics are leaked. An empty slice is
   * seen from its sweep's collected rows, so on the normal path this
   * submits exactly the jobs of `bestThetaRobust` on the train slice.
   */
  def theta(scored: DataFrame, dist: Column, label: Column,
            invStep: Int = 50): Double = {
    def on(slice: DataFrame) =
      Threshold.plateauTheta(slice, dist, label, invStep)
    on(train(scored)).orElse(on(nonTest(scored))).getOrElse {
      System.err.println(
        "[graft] WARN Splits.theta: no non-test pairs — sweeping " +
          "theta on the FULL score set (includes test pairs); " +
          "treat downstream test metrics as LEAKED")
      Threshold.bestThetaRobust(scored, dist, label, invStep)
    }
  }

  /** Test-split pair metrics ([[Metrics.pairMetrics]]'s schema) of the
    * prediction `dist <= theta`. */
  def testMetrics(scored: DataFrame, dist: Column, label: Column,
                  theta: Double): DataFrame =
    Metrics.pairMetrics(test(scored), (dist <= theta).cast("int"), label)

  /** Test-split pair metrics at theta plus MRR/MAP/P@1, in one fused
    * pass ([[Metrics.fullEval]]). */
  def testEval(scored: DataFrame, dist: Column, label: Column,
               theta: Double): DataFrame =
    Metrics.fullEval(test(scored), dist, label, theta)

  /** The trainer evals' one-row summary (dim, epochs, theta, f1,
    * precision, recall, mrr) of `scored`'s `label` column: [[theta]] on
    * the train pairs, [[testEval]] on the test pairs at that theta. */
  def summary(scored: DataFrame, dist: Column, dim: Int,
              epochs: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val th = theta(scored, dist, col("label"))
    val m = testEval(scored, dist, col("label"), th).head()
    Seq((dim.toLong, epochs.toLong, th, m.getAs[Double]("f1"),
      m.getAs[Double]("precision"), m.getAs[Double]("recall"),
      m.getAs[Double]("mrr")))
      .toDF("dim", "epochs", "theta", "f1", "precision", "recall", "mrr")
  }
}
