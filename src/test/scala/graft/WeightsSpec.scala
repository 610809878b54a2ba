package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * VEER / WERL weight learners and the unweighted WERL variants
 * (reference werl.py test_merl / test_without_weight): the variants
 * must be real classifiers on the frozen RLTransE channels, and the
 * LEARNED combination must not lose to the unweighted mean by more
 * than noise. Also pins the train-once memoization: independently
 * registered queries share one fit per (session, sfDir).
 */
class WeightsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  /** (feature, weight_nanos) rows, sorted by feature. */
  private def nanos(w: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
    w.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

  test("MERL and no-weight variants land in a real F1 band on frozen channels") {
    val merl = ml.Weights.merlMetrics(spark, sf).head()
    val now = ml.Weights.noweightMetrics(spark, sf).head()
    val werl = ml.Weights.werlMetrics(spark, sf).head()
    val (fMerl, fNow, fWerl) = (merl.getAs[Double]("f1"),
      now.getAs[Double]("f1"), werl.getAs[Double]("f1"))
    assert(fMerl >= 0.5, s"merl f1 $fMerl")
    assert(fNow >= 0.5, s"noweight f1 $fNow")
    // learned weights must not lose to the unweighted mean beyond noise
    assert(fWerl >= fMerl - 0.1, s"werl $fWerl vs merl $fMerl")
  }

  test("variant metrics are memoized: repeated calls return the same frame") {
    val a = ml.Weights.merlMetrics(spark, sf)
    val b = ml.Weights.merlMetrics(spark, sf)
    assert(a eq b)
  }

  test("VEER weights and metrics come from one memoized fit") {
    val (w1, m1) = ml.Weights.veerWeightsAndMetrics(spark, sf)
    val (w2, m2) = ml.Weights.veerWeightsAndMetrics(spark, sf)
    assert((w1 eq w2) && (m1 eq m2))
    assert(m1.head().getAs[Double]("f1") >= 0.99)
    assert(nanos(w1) == Seq(("cos", 3240666833L), ("intercept", -3264272792L),
      ("jw", -1631502423L), ("lev", 4042144088L)))
  }

  test("VEER grid eval carries per-combo MRR and a sane F1") {
    val row = ml.Weights.veerEval(spark, sf, 0.001, 25).head()
    assert(row.getAs[Double]("f1") >= 0.99)
    assert(row.getAs[Double]("mrr") >= 0.9)
  }

  test("WERL over the batch RLTransE fit: learned combination in band, " +
      "one memoized fit") {
    val (w1, m1) = ml.Weights.werlBatchWeightsAndMetrics(spark, sf)
    val (w2, m2) = ml.Weights.werlBatchWeightsAndMetrics(spark, sf)
    assert((w1 eq w2) && (m1 eq m2))
    assert(m1.head().getAs[Double]("f1") >= 0.9,
      s"werl_batch f1 ${m1.head().getAs[Double]("f1")}")
    assert(w1.count() == ml.Weights.WerlFeatures.length + 1)
    assert(nanos(w1) == Seq(("f_lang", -1077160916L), ("f_prif", -1101035244L),
      ("f_repo", 0L), ("f_st", -544376347L), ("f_valf", -1421977390L),
      ("f_w1f", -1393167544L), ("intercept", 1898870447L)))
  }

  test("grid_werl sweeps the batch-fit epochs axis: one row per combo, " +
      "full-epochs cell matches the default tier") {
    val rows = eval.GridSearch.sweep(spark,
      eval.GridSearch.grid(
        "epochs" -> ml.Weights.WerlGridEpochs.map(_.toDouble)),
      p => ml.Weights.werlBatchEval(spark, sf, p("epochs").toInt))
      .collect().sortBy(_.getAs[Double]("epochs"))
    assert(rows.length == ml.Weights.WerlGridEpochs.length)
    rows.foreach { r =>
      assert(r.getAs[Double]("f1") >= 0.5,
        s"grid_werl f1 ${r.getAs[Double]("f1")} at epochs ${r.get(0)}")
      assert(!r.getAs[Double]("mrr").isNaN)
    }
    // the E-epochs cell IS the default werl_batch tier
    val (_, m) = ml.Weights.werlBatchWeightsAndMetrics(spark, sf)
    assert(rows.last.getAs[Double]("f1") == m.head().getAs[Double]("f1"))
  }

  test("logistic over dim-wide RLTransE difference vectors beats the " +
      "scalar-channel WERL band and is memoized") {
    val m1 = ml.Weights.logisticRlTransEMetrics(spark, sf)
    val f1 = m1.head().getAs[Double]("f1")
    // 224 field-aligned features from the same frozen fit: must be a
    // real classifier (WERL's scalar channels land >= 0.5 here)
    assert(f1 >= 0.5, s"logistic_rltranse f1 $f1")
    assert(ml.Weights.logisticRlTransEMetrics(spark, sf) eq m1)
  }

  test("batch LogisticRLTransE twin: dim-wide GD tier in band, one " +
      "memoized fit, exact-invertible anchor lattice") {
    val (w1, m1) = ml.Weights.logRltBatchWeightsAndMetrics(spark, sf)
    val (w2, m2) = ml.Weights.logRltBatchWeightsAndMetrics(spark, sf)
    assert((w1 eq w2) && (m1 eq m2))
    val f1 = m1.head().getAs[Double]("f1")
    // the batch fit's dim-wide features separate the planted synth
    // dupes cleanly — the tier holds F1 = 1.0 at sf0.001 AND sf0.01;
    // band at 0.95 to absorb future synth-table tweaks, not noise
    assert(f1 >= 0.95, s"logistic_rltranse_batch f1 $f1")
    assert(w1.count() == ml.Weights.LogRltBatchDim + 1)
    assert(TrainPins.rowsSha(w1.collect().toSeq) ==
      "85a9f66bb95305f0340d40fa5a1b60b292ebd5cd5e84cac14d077da371775149")
    // anchor export is the exact mq6 lattice: micros/1e6 must
    // reproduce the GD input doubles bit-for-bit (spot-check a row)
    val feats = ml.Weights.logRltBatchFeats(spark, sf)
    assert(feats.columns.count(_.endsWith("_micros")) ==
      ml.Weights.LogRltBatchDim)
    val anyRow = feats.limit(1).collect()(0)
    val micros = (0 until ml.Weights.LogRltBatchDim)
      .map(i => anyRow.getAs[Long](s"x${i}_micros"))
    assert(micros.forall(m => m >= -3000000L && m <= 3000000L),
      "diff features must stay in the [-3, 3] envelope (difference " +
        "of two unit rows translated by a unit relation row)")
  }
}
