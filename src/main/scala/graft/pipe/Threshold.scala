package graft.pipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Single-pass optimal-threshold sweep.
 *
 * Reference: `get_optimal_threshold` re-filters the whole scored list
 * once per grid point (~18-150 passes, the reference's
 * `common.py:250-273`). Here one `groupBy(bucket)` of
 * (pairs, true pairs), bucket = ceil(dist * invStep), is collected:
 * at most `invStep + 1` rows for `dist` in [0, 1]. The driver finishes
 * the sweep (SURVEY.md §2.4): `Long` running sums over ascending
 * buckets give TP/FP/FN at every theta = bucket / invStep, then F1, the
 * argmax and the plateau.
 *
 * All F1 values derive from integer counts, so results are
 * bit-reproducible and oracle-comparable.
 *
 * The sweep counts a pair inside theta k / invStep when its bucket
 * `ceil(dist * invStep) <= k`, which is not always the `dist <= theta`
 * filter the edges and the test counts apply: dist 0.14 lands in bucket
 * 8 (0.14 * 50 = 7.000000000000001) yet sits inside theta 7/50, and
 * 1.0 - 0.18 lands in bucket 41 yet sits outside theta 41/50. The
 * `threshold_*` oracles mirror the bucket sweep, so aligning the two is
 * an oracle change of its own.
 */
object Threshold {

  /** The sweep's bucket of a pair: ceil(dist * invStep). */
  private[pipe] def bucketOf(dist: Column, invStep: Int): Column =
    ceil(dist * invStep).cast("int")

  /** The one distributed step: (bucket, n, npos) per non-empty bucket. */
  private def perBucket(scored: DataFrame, dist: Column, label: Column,
                        invStep: Int = 50): DataFrame =
    scored.select(bucketOf(dist, invStep).as("bucket"), label.cast("long").as("lbl"))
      .groupBy("bucket").agg(count(lit(1)).as("n"), sum("lbl").as("npos"))

  /** F1 of confusion counts, 0 without a true positive. */
  private[pipe] def f1(tp: Long, fp: Long, fn: Long): Double =
    if (tp == 0) 0.0 else (2 * tp).toDouble / (2 * tp + fp + fn)

  /** One grid point of the sweep: theta = bucket / invStep. */
  private[pipe] final case class Point(bucket: Int, tp: Long, fp: Long, fn: Long) {
    def theta(invStep: Int): Double = bucket / invStep.toDouble
    def f1: Double = Threshold.f1(tp, fp, fn)
  }

  /** The sweep's points, ascending, from `(bucket, n, npos)` rows in
    * any order; rows that share a bucket add up. */
  private[pipe] def points(rows: Iterable[(Int, Long, Long)]): Seq[Point] = {
    val byBucket = rows.groupMapReduce(_._1)(r => (r._2, r._3)) {
      case ((n1, p1), (n2, p2)) => (n1 + n2, p1 + p2)
    }.toSeq.sortBy(_._1)
    val totalPos = byBucket.map(_._2._2).sum
    var cumN = 0L
    var tp = 0L
    byBucket.map { case (b, (n, npos)) =>
      cumN += n
      tp += npos
      Point(b, tp, cumN - tp, totalPos - tp)
    }
  }

  /** The first point at max F1. */
  private def argmax(points: Seq[Point]): Option[Point] =
    if (points.isEmpty) None
    else {
      val fmax = points.map(_.f1).max
      points.find(_.f1 == fmax)
    }

  /**
   * The robust theta's grid index: the midpoint of the max-F1 plateau,
   * or None without points. The plateau extends from the first point at
   * max F1 to just before the next point whose F1 degrades (empty
   * buckets in between keep F1 constant); with no degrading point after
   * it, the plateau is its first point alone.
   */
  private[pipe] def plateau(points: Seq[Point]): Option[Long] =
    argmax(points).map { top =>
      val blo = top.bucket.toLong
      val bhi = points.collectFirst {
        case p if p.bucket > blo && p.f1 < top.f1 => p.bucket - 1L
      }.getOrElse(blo)
      (blo + bhi) / 2
    }

  private def collectPoints(scored: DataFrame, dist: Column, label: Column,
                            invStep: Int): Seq[Point] =
    points(perBucket(scored, dist, label, invStep).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))

  /** `points` as the sweep's local (theta, tp, fp, fn, f1) frame. */
  private def table(scored: DataFrame, points: Seq[Point], invStep: Int): DataFrame = {
    import scored.sparkSession.implicits._
    points.map(p => (p.theta(invStep), p.tp, p.fp, p.fn, p.f1))
      .toDF("theta", "tp", "fp", "fn", "f1")
  }

  /**
   * Full sweep table: (theta, tp, fp, fn, f1) per non-empty bucket, for
   * `dist` in [0, maxDist] at step 1/invStep, as a local frame.
   */
  def sweep(scored: DataFrame, dist: Column, label: Column,
            invStep: Int = 50): DataFrame =
    table(scored, collectPoints(scored, dist, label, invStep), invStep)

  /** Best (theta, tp, fp, fn, f1): max F1, smallest theta on ties; no
    * row for an empty input. */
  def best(scored: DataFrame, dist: Column, label: Column,
           invStep: Int = 50): DataFrame =
    table(scored, argmax(collectPoints(scored, dist, label, invStep)).toSeq, invStep)

  /** The chosen threshold as a Scala value. */
  def bestTheta(scored: DataFrame, dist: Column, label: Column,
                invStep: Int = 50): Double =
    argmax(collectPoints(scored, dist, label, invStep)).get.theta(invStep)

  /**
   * Robust threshold for the flagship decision: the midpoint of the
   * max-F1 plateau instead of its left edge ([[plateau]]). The
   * reference's argmax picks the SMALLEST optimal theta (np.argmax on
   * an ascending grid, `common.py:250-273`), which sits
   * right at the decision boundary and generalizes poorly to unseen
   * splits; the plateau midpoint keeps train F1 identical and
   * maximizes margin. Integer bucket arithmetic -> deterministic; 0.0
   * for an empty input.
   */
  def bestThetaRobust(scored: DataFrame, dist: Column, label: Column,
                      invStep: Int = 50): Double =
    plateau(collectPoints(scored, dist, label, invStep)).getOrElse(0L) /
      invStep.toDouble
}
