package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.Metrics
import graft.pipe.Splits

/**
 * Exact-value metric tests, fixture ported from the reference
 * (/root/reference/tests/test_ir_metrics.py:8-62, FIXTURES.md §6).
 */
class MetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // (idA, idB, dist) scored pairs + truth {(0,1),(2,4)}
  def fixture = Seq(
    (0L, 1L, 0.1, 1), (0L, 2L, 0.3, 0), (1L, 2L, 0.5, 0),
    (2L, 3L, 0.2, 0), (2L, 4L, 0.9, 1)
  ).toDF("idA", "idB", "dist", "label")

  test("MRR / MAP / P@1 on the reference fixture") {
    val m = Metrics.irMetrics(fixture, col("dist"), col("label")).head()
    // query 0: relevant at rank 1 -> RR 1, AP 1; query 2: relevant at
    // rank 2 -> RR 0.5, AP 0.5; query 1 has no relevant -> excluded.
    assert(m.getAs[Long]("n_queries") == 2)
    assert(m.getAs[Double]("mrr") == 0.75)
    assert(m.getAs[Double]("map") == 0.75)
    assert(m.getAs[Double]("p_at_1") == 0.5)
  }

  test("per-query IR facts") {
    val f = Metrics.irQueryFacts(fixture, col("dist"), col("label"))
      .orderBy("idA").collect()
    assert(f.length == 3)
    val q0 = f(0)
    assert(q0.getAs[Long]("n_candidates") == 2 && q0.getAs[Long]("n_rel") == 1)
    assert(q0.getAs[Long]("first_rel_rank") == 1 && q0.getAs[Long]("hits_at_1") == 1)
    assert(q0.getAs[Long]("ap_micros") == 1000000L)
    val q1 = f(1)
    assert(q1.getAs[Long]("n_rel") == 0 && q1.getAs[Long]("first_rel_rank") == 0)
    val q2 = f(2)
    assert(q2.getAs[Long]("first_rel_rank") == 2 && q2.getAs[Long]("ap_micros") == 500000L)
  }

  test("pair metrics confusion + derived values") {
    // predict match when dist <= 0.3
    val m = Metrics.pairMetrics(fixture, (col("dist") <= 0.3).cast("int"),
      col("label")).head()
    assert(m.getAs[Long]("tp") == 1 && m.getAs[Long]("fp") == 2)
    assert(m.getAs[Long]("fn") == 1 && m.getAs[Long]("tn") == 1)
    assert(m.getAs[Double]("precision") == 1.0 / 3)
    assert(m.getAs[Double]("recall") == 0.5)
    assert(m.getAs[Double]("f1") == 2.0 / (2 + 2 + 1))
    assert(m.getAs[Double]("accuracy") == 0.4)
  }

  test("fullEval fuses pairMetrics + irMetrics exactly") {
    val theta = 0.4
    val pm = Metrics.pairMetrics(fixture,
      (col("dist") <= theta).cast("int"), col("label")).head()
    val ir = Metrics.irMetrics(fixture, col("dist"), col("label")).head()
    val f = Metrics.fullEval(fixture, col("dist"), col("label"), theta).head()
    for (c <- Seq("tp", "fp", "fn", "tn"))
      assert(f.getAs[Long](c) == pm.getAs[Long](c), c)
    for (c <- Seq("precision", "recall", "f1"))
      assert(f.getAs[Double](c) == pm.getAs[Double](c), c)
    assert(f.getAs[Long]("n_queries") == ir.getAs[Long]("n_queries"))
    for (c <- Seq("mrr", "map", "p_at_1"))
      assert(f.getAs[Double](c) == ir.getAs[Double](c), c)
  }

  private val FactsCols = "idA BIGINT, n_candidates BIGINT NOT NULL, n_rel BIGINT, " +
    "first_rel_rank BIGINT NOT NULL, hits_at_1 BIGINT, ap_micros BIGINT"
  private val IrCols = "n_queries BIGINT NOT NULL, mrr DOUBLE, map DOUBLE, p_at_1 DOUBLE"
  private val PAtKCols = "k BIGINT NOT NULL, n_queries BIGINT NOT NULL, mean_p_at_k DOUBLE NOT NULL"
  private val PairCols = "tp BIGINT, fp BIGINT, fn BIGINT, tn BIGINT, precision DOUBLE, " +
    "recall DOUBLE, f1 DOUBLE, accuracy DOUBLE"
  private val EvalCols = "tp BIGINT, fp BIGINT, fn BIGINT, tn BIGINT, precision DOUBLE, " +
    "recall DOUBLE, f1 DOUBLE, n_queries BIGINT, mrr DOUBLE, map DOUBLE, p_at_1 DOUBLE"

  /** Each evaluator's columns (name, SQL type, NOT NULL) and its rows'
    [[TrainPins.rowsSha]], over `scored`'s test pairs at `theta`:
    irQueryFacts, irMetrics, pAtK, pairMetrics and Splits.testEval. */
  private def evalPins(scored: DataFrame, theta: Double): Seq[(String, String)] = {
    val (dist, label, test) = (col("dist"), col("label"), Splits.test(scored))
    Seq(Metrics.irQueryFacts(test, dist, label), Metrics.irMetrics(test, dist, label),
      Metrics.pAtK(test, dist, label),
      Metrics.pairMetrics(test, (dist <= theta).cast("int"), label),
      Splits.testEval(scored, dist, label, theta))
      .map(df => (df.schema.map(f => s"${f.name} ${f.dataType.sql}" +
          (if (f.nullable) "" else " NOT NULL")).mkString(", "),
        TrainPins.rowsSha(df.collect().toSeq)))
  }

  test("the evaluators' rows are pinned on the sf0.001 test pairs") {
    val sf = SparkTestSession.sf0001
    val pins = evalPins(EntryStages.scoredp(spark, sf), EntryStages.theta(spark, sf))
    assert(pins == Seq(
      FactsCols -> "80a36ece74119c6256a3dc77995adbae52c61892680f5090a04f0614fdca98e5",
      IrCols -> "a2646b6a2ecffe5a6bcc426011199dd2ecd77d281d5474509e5637d8ba41d11b",
      PAtKCols -> "091000628ad7f39f6fab284d46b7da39fe6f7f72d2021d56c1fa1c9d8316fad6",
      PairCols -> "085fdf6d7f1854fe43d7d48e0ad2f054c1b80febd0b047a793151b5ca3dd1824",
      EvalCols -> "623436c0e0c0e71029343f0305f2fda8256e93af4c6a267ce3df7edd207ea498"))
  }

  test("the evaluators' rows are pinned on an empty input") {
    val sf = SparkTestSession.sf0001
    val pins = evalPins(EntryStages.scoredp(spark, sf).limit(0), 0.5)
    // no rows for the facts; null ratios for irMetrics, 0.0 for pAtK
    assert(pins == Seq(
      FactsCols -> "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855",
      IrCols -> "88ae3cd4d9672401a6210c32f4dae2de614f6ad13ce1cc9f8220527f45c7c50e",
      PAtKCols -> "094e19273cb82e4d7ee62ae2173e8732abea12aca8cb32bd54e04db367255800",
      PairCols -> "a0a91e157c065d0cb1a646ac74a4b77da105cd0f36a85de092eddc301d7f498a",
      EvalCols -> "19bc414165247d42043bc7cdcc03e439f24980449e6ae7c0709330e7c8ecca68"))
  }

  test("defining pAtK's frame submits no Spark job") {
    val test = Splits.test(EntryStages.scoredp(spark, SparkTestSession.sf0001))
    val (_, jobs) = JobCount(spark.sparkContext)(Metrics.pAtK(test, col("dist"), col("label")))
    assert(jobs == 0, s"$jobs jobs")
  }

  test("grid search sweeps every combination and ranks by F1") {
    val sf = SparkTestSession.sf0001
    val combos = graft.eval.GridSearch.grid(
      "dim" -> Seq(8.0, 16.0), "epochs" -> Seq(20.0))
    assert(combos.size == 2)
    val out = graft.eval.GridSearch.sweep(spark, combos, { p =>
      graft.sim.RLTransE.eval(spark, sf, graft.sim.RLTransE.Config(
        dim = p("dim").toInt, epochs = p("epochs").toInt))
    }).collect()
    assert(out.length == 2)
    // sorted by descending f1
    assert(out(0).getAs[Double]("f1") >= out(1).getAs[Double]("f1"))
    // per-combo IR metrics carried through (reference logs them per combo)
    assert(out.forall(r => !r.getAs[Double]("mrr").isNaN))
    assert(out.forall(r => !r.getAs[Double]("precision").isNaN))
  }
}
