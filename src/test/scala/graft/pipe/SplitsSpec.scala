package graft.pipe

import java.lang.Double.doubleToLongBits

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * `Splits.decide` finishes theta and the test counts on the driver from
 * one bucket aggregate. Its test counts equal the `dist <= theta` filter
 * of `Splits.testMetrics` at every grid theta, and its theta equals the
 * window sweep it replaced, on distances that sit on and next to the
 * grid points.
 */
class SplitsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dist = col("dist")
  private val label = col("label")

  /** One split pair per class: both train, other non-test (two
    * shapes), both test, mixed (two shapes). */
  private val splitPairs = Seq(("train", "train"), ("val", "val"),
    ("train", "val"), ("test", "test"), ("train", "test"), ("test", "val"))

  /** Distances on the grid points b/50, one ulp either side, and the
    * `1 - score` differences the pipeline computes. Some products with
    * 50 round across a bucket edge: 0.14 is in bucket 8 yet inside
    * theta 7/50, and 1.0 - 0.18 is in bucket 41 yet outside theta 41/50. */
  private val dists: Seq[Double] = (0 to 50).flatMap { b =>
    val g = b / 50.0
    Seq(g, Math.nextUp(g), Math.nextDown(g), 1.0 - (50 - b) / 50.0,
      1.0 - (1.0 - g))
  }.filter(_ >= 0.0).distinct

  private lazy val grid: DataFrame = {
    val rows = for {
      (d, i) <- dists.zipWithIndex
      ((sa, sb), j) <- splitPairs.zipWithIndex
    } yield (d, (i * 7 + j * 3) % 5 % 2, sa, sb)
    spark.sparkContext.parallelize(rows, 3).toDF("dist", "label", "split_a", "split_b")
  }

  /** The replaced sweep: per-bucket counts, cumulative windows. */
  private def windowSweep(df: DataFrame): DataFrame = {
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(ceil(dist * 50).cast("int").as("bucket"), label.cast("long").as("lbl"))
      .groupBy("bucket").agg(count(lit(1)).as("n"), sum("lbl").as("npos"))
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("tp", sum("npos").over(w))
      .withColumn("total_pos", sum("npos").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select((col("bucket") / 50.0).as("theta"), col("tp"),
        (col("cum_n") - col("tp")).as("fp"), (col("total_pos") - col("tp")).as("fn"))
      .withColumn("f1", when(col("tp") === 0, 0.0).otherwise(
        col("tp") * 2 / (col("tp") * 2 + col("fp") + col("fn"))))
  }

  /** The replaced theta: the window sweep's plateau rule and the
    * train -> non-test -> all chain. */
  private def windowTheta(df: DataFrame): Double = {
    def plateau(slice: DataFrame): Option[Double] = {
      val rows = windowSweep(slice)
        .select(round(col("theta") * 50).cast("long").as("b"), col("f1"))
        .orderBy("b").collect().map(r => (r.getLong(0), r.getDouble(1)))
      if (rows.isEmpty) None
      else {
        val fmax = rows.map(_._2).max
        val blo = rows.find(_._2 == fmax).get._1
        val bhi = rows.collectFirst { case (b, f) if b > blo && f < fmax => b - 1 }
          .getOrElse(blo)
        Some(((blo + bhi) / 2) / 50.0)
      }
    }
    plateau(Splits.train(df)).orElse(plateau(Splits.nonTest(df)))
      .orElse(plateau(df)).getOrElse(0.0)
  }

  private def silently[T](f: => T): T = {
    val saved = System.err
    System.setErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
    try f finally System.setErr(saved)
  }

  test("driver test counts equal Splits.testMetrics at every grid theta") {
    val bucket = dists.map(d => d -> math.ceil(d * 50)).toMap
    assert(dists.exists(d => d <= (bucket(d) - 1) / 50.0), "none inside the theta below its bucket")
    assert(dists.exists(d => d > bucket(d) / 50.0), "none outside its own bucket's theta")
    val tally = Splits.Tally(grid, dist, label, 50)
    for (k <- 0 to 50) {
      val m = Splits.testMetrics(grid, dist, label, k / 50.0).head()
      assert(tally.testAt(k) == ((m.getAs[Long]("tp"), m.getAs[Long]("fp"),
        m.getAs[Long]("fn"))), s"k = $k")
    }
    assert(tally.pairs == grid.count())
  }

  test("decide: theta of the window sweep, ratios of testMetrics, bit for bit") {
    val d = Splits.decide(grid, dist, label)
    assert(doubleToLongBits(d.theta) == doubleToLongBits(windowTheta(grid)))
    val m = Splits.testMetrics(grid, dist, label, d.theta).head()
    for ((name, v) <- Seq("precision" -> d.precision, "recall" -> d.recall, "f1" -> d.f1))
      assert(doubleToLongBits(v) == doubleToLongBits(m.getAs[Double](name)), name)
    assert(d.pairs == grid.count())
  }

  test("decide's fallback chain equals the window sweep's") {
    def pairs(rows: (Double, Int, String, String)*): DataFrame =
      rows.toDF("dist", "label", "split_a", "split_b")
    val cases = Seq(
      // train pairs tune theta
      pairs((0.1, 1, "train", "train"), (0.3, 1, "train", "train"),
        (0.5, 0, "train", "train"), (0.9, 0, "train", "train"),
        (0.6, 1, "val", "val"), (0.7, 1, "test", "test"),
        (0.2, 0, "test", "test")),
      // no train pairs: the non-test pairs do
      pairs((0.1, 1, "train", "val"), (0.5, 0, "val", "val"),
        (0.7, 1, "test", "test"), (0.3, 0, "train", "test")),
      // only test pairs: every pair does
      pairs((0.1, 1, "test", "test"), (0.5, 0, "test", "test"),
        (0.3, 0, "test", "val"), (0.6, 1, "train", "test")),
      // the grid without its train pairs, then without any non-test pair
      grid.filter(!(col("split_a") === "train" && col("split_b") === "train")),
      grid.filter(col("split_a") === "test" || col("split_b") === "test"),
      pairs())
    for ((df, i) <- cases.zipWithIndex) {
      val want = windowTheta(df)
      assert(silently(Splits.theta(df, dist, label)) == want, s"case $i")
      assert(silently(Splits.decide(df, dist, label)).theta == want, s"case $i")
    }
  }

  test("Threshold.sweep keeps the window sweep's rows") {
    val old = windowSweep(grid)
    val sweep = Threshold.sweep(grid, dist, label)
    assert(sweep.schema.map(f => f.name -> f.dataType) == old.schema.map(f => f.name -> f.dataType))
    def bits(df: DataFrame) = df.as[(Double, Long, Long, Long, Double)].collect().toSeq
      .map { case (t, tp, fp, fn, f1) => (doubleToLongBits(t), tp, fp, fn, doubleToLongBits(f1)) }
      .sorted
    assert(bits(sweep) == bits(old))
    assert(bits(Threshold.best(grid, dist, label)) ==
      bits(old.orderBy(desc("f1"), asc("theta")).limit(1)))
  }
}
