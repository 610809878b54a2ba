package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipe.{Cluster, Splits, Threshold}

class ThresholdClusterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("threshold sweep on a tiny hand-computed case") {
    // dists: positives at 0.1, 0.3; negatives at 0.5, 0.9
    val scored = Seq((0.1, 1), (0.3, 1), (0.5, 0), (0.9, 0))
      .toDF("dist", "label")
    val sweep = Threshold.sweep(scored, col("dist"), col("label"))
      .orderBy("theta").collect()
    // buckets: ceil(d*50) = 5, 15, 25, 45
    assert(sweep.length == 4)
    val best = Threshold.best(scored, col("dist"), col("label")).head()
    // theta = 15/50 = 0.3: tp=2 fp=0 fn=0 -> f1=1, smallest such theta
    assert(best.getAs[Double]("theta") == 0.3)
    assert(best.getAs[Double]("f1") == 1.0)
    assert(Threshold.bestTheta(scored, col("dist"), col("label")) == 0.3)
  }

  /** (dist, label, split_a, split_b) pairs behind an RDD scan, so every
    * probe of the frame is a Spark job. */
  private def pairs(rows: (Double, Int, String, String)*): DataFrame =
    spark.sparkContext.parallelize(rows, 2)
      .toDF("dist", "label", "split_a", "split_b")

  private def robust(df: DataFrame): Double =
    Threshold.bestThetaRobust(df, col("dist"), col("label"))

  private def splitTheta(df: DataFrame): Double =
    Splits.theta(df, col("dist"), col("label"))

  test("train-split theta: train pairs tune it, with no extra job") {
    val df = pairs(
      (0.1, 1, "train", "train"), (0.3, 1, "train", "train"),
      (0.5, 0, "train", "train"), (0.9, 0, "train", "train"),
      (0.6, 1, "val", "val"), (0.7, 1, "test", "test"),
      (0.2, 0, "test", "test"))
    val (onTrain, robustJobs) =
      JobCount(spark.sparkContext)(robust(Splits.train(df)))
    val (theta, thetaJobs) = JobCount(spark.sparkContext)(splitTheta(df))
    // F1 plateau of the train pairs: buckets 15..24 -> midpoint 19
    assert(onTrain == 0.38)
    assert(theta == onTrain)
    assert(theta != robust(df))
    assert(robustJobs > 0)
    assert(thetaJobs <= robustJobs)
  }

  test("train-split theta: no train pairs falls back to non-test pairs") {
    val df = pairs(
      (0.1, 1, "train", "val"), (0.5, 0, "val", "val"),
      (0.7, 1, "test", "test"), (0.3, 0, "train", "test"))
    val theta = splitTheta(df)
    assert(theta == robust(Splits.nonTest(df)))
    assert(theta == 0.28)
    assert(theta != robust(df))
  }

  test("train-split theta: only test pairs sweeps all pairs and warns") {
    val df = pairs(
      (0.1, 1, "test", "test"), (0.5, 0, "test", "test"),
      (0.3, 0, "test", "val"), (0.6, 1, "train", "test"))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val theta = try splitTheta(df) finally System.setErr(saved)
    assert(theta == robust(df))
    assert(err.toString.contains("WARN Splits.theta"))
  }

  test("connected components: chain, triangle, separate component, singleton") {
    // chain 1-2-3-4, triangle 10-11-12 (+ edge back 12-10), pair 20-21
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L)).toDF("src", "dst")
    val cc = Cluster.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).map(cc) == Seq.fill(4)(1L))
    assert(Seq(10L, 11L, 12L).map(cc) == Seq.fill(3)(10L))
    assert(Seq(20L, 21L).map(cc) == Seq.fill(2)(20L))
    // assign: singleton 99 gets its own id
    val ids = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 99L).toDF("id")
    val assigned = Cluster.assign(ids, edges).as[(Long, Long)].collect().toMap
    assert(assigned(99L) == 99L)
    assert(assigned(4L) == 1L)
  }

  test("connected components on a long chain (log-round convergence)") {
    val n = 64
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val cc = Cluster.connectedComponents(edges).as[(Long, Long)].collect()
    assert(cc.length == n)
    assert(cc.forall(_._2 == 1L))
  }
}
