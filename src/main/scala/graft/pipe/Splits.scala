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
  def nonTest(pairs: DataFrame): DataFrame = pairs.filter(noTestSide)

  private def noTestSide: Column =
    col("split_a") =!= "test" && col("split_b") =!= "test"

  /**
   * The robust theta ([[Threshold.bestThetaRobust]]) swept on the
   * train pairs, never on the reported ones: [[decide]]'s theta. Without
   * train pairs it falls back to the non-test pairs: never to a set
   * holding test pairs, whose labels would leak into the threshold and
   * inflate the reported F1. Without those either it sweeps every pair
   * and warns on stderr that the test metrics are leaked. One Spark
   * action on every path.
   */
  def theta(scored: DataFrame, dist: Column, label: Column,
            invStep: Int = 50): Double =
    decide(scored, dist, label, invStep).theta

  /** [[theta]] with the test-split confusion counts of `dist <= theta`
    * and the number of pairs in `scored`. */
  final case class Decision(theta: Double, tp: Long, fp: Long, fn: Long,
                            pairs: Long) {
    def precision: Double = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    def recall: Double = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    def f1: Double = Threshold.f1(tp, fp, fn)
  }

  /**
   * [[theta]], the test metrics at it and the pair count from one
   * `groupBy(bucket, class)` over `scored`, collected and finished on
   * the driver ([[Tally]]). Its counts and ratios equal
   * [[testMetrics]]'s at that theta bit for bit. Theta itself is picked
   * by bucket, `ceil(dist * invStep) <= k`, as [[Threshold]] sweeps; the
   * test counts use `dist <= theta`, and a pair on a grid point can fall
   * on different sides of the two (dist 0.14 is in bucket 8, inside
   * theta 7/50).
   */
  def decide(scored: DataFrame, dist: Column, label: Column,
             invStep: Int = 50): Decision = {
    val tally = Tally(scored, dist, label, invStep)
    val k = tally.plateau(Tally.Train)
      .orElse(tally.plateau(Tally.Train, Tally.NonTest))
      .getOrElse {
        System.err.println(
          "[graft] WARN Splits.theta: no non-test pairs — sweeping " +
            "theta on the FULL score set (includes test pairs); " +
            "treat downstream test metrics as LEAKED")
        tally.plateau(Tally.Train, Tally.NonTest, Tally.Test, Tally.Mixed)
          .getOrElse(0L)
      }
    val (tp, fp, fn) = tally.testAt(k)
    Decision(k / invStep.toDouble, tp, fp, fn, tally.pairs)
  }

  /**
   * One scored frame's pairs counted by sweep bucket (ceil(dist *
   * invStep)) and split class. Beside `n` and `npos`, each group counts
   * its positives and negatives at `dist <= b / invStep` and at
   * `dist <= (b - 1) / invStep`: a pair in bucket `b <= k - 1` is always
   * inside theta `k / invStep`, one in bucket `b >= k + 2` never is, so
   * with those two counts for buckets `k` and `k + 1` the test confusion
   * counts at any grid theta equal the `dist <= theta` filter's exactly.
   */
  private[pipe] final class Tally private (rows: Seq[Tally.Group]) {

    /** The robust theta's grid index swept on the pairs of `classes`. */
    def plateau(classes: Int*): Option[Long] =
      Threshold.plateau(Threshold.points(
        rows.filter(g => classes.contains(g.cls)).map(g => (g.bucket, g.n, g.npos))))

    /** Test-split (tp, fp, fn) of `dist <= k / invStep`. */
    def testAt(k: Long): (Long, Long, Long) = {
      val test = rows.filter(_.cls == Tally.Test)
      // (positives, negatives) of each group at dist <= k / invStep
      val inside = test.map { g =>
        if (g.bucket < k) (g.npos, g.n - g.npos)
        else if (g.bucket == k) (g.posAt, g.negAt)
        else if (g.bucket == k + 1) (g.posBelow, g.negBelow)
        else (0L, 0L)
      }
      val tp = inside.map(_._1).sum
      (tp, inside.map(_._2).sum, test.map(_.npos).sum - tp)
    }

    def pairs: Long = rows.map(_.n).sum
  }

  private[pipe] object Tally {
    /** Split classes: both train, other non-test, both test, the rest. */
    val Train = 0
    val NonTest = 1
    val Test = 2
    val Mixed = 3

    final case class Group(bucket: Int, cls: Int, n: Long, npos: Long,
                           posAt: Long, negAt: Long, posBelow: Long, negBelow: Long)

    def apply(scored: DataFrame, dist: Column, label: Column, invStep: Int): Tally = {
      val cls = when(both("train"), Train)
        .when(noTestSide, NonTest)
        .when(both("test"), Test)
        .otherwise(Mixed)
      val (b, l, d) = (col("b"), col("l"), col("d"))
      def at(grid: Column, lbl: Int) = count(when(d <= grid / invStep.toDouble && l === lbl, 1))
      val rows = scored
        .select(Threshold.bucketOf(dist, invStep).as("b"), cls.as("c"),
          label.cast("long").as("l"), dist.as("d"))
        .groupBy(b, col("c"))
        .agg(count(lit(1)), sum(l), at(b, 1), at(b, 0), at(b - 1, 1), at(b - 1, 0))
        .collect()
        .map(r => Group(r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      new Tally(rows.toSeq)
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
