package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.EntryStages
import graft.eval.Metrics
import graft.pipe.Splits
import graft.sim.{RLTransE, Scorer}

/**
 * Learned per-column weights over RAW similarity scores — the engine
 * analogue of the reference's VEER and WERL record scorers:
 *
 * - VEER learns one weight per compared column over value-embedding
 *   distances and predicts via sigmoid(weighted sum)
 *   (/root/reference/veer.py:79-86): here the columns are the raw
 *   (jw, lev, cos) similarity channels of the flagship scorer, and the
 *   weights come from [[EmbedLogistic.fitBalancedOn]] — the
 *   deterministic class-balanced full-batch GD (integer micro-unit
 *   class sums, nano-quantized steps), so the whole fit is replayed
 *   bit-exactly by DuckDB ([[graft.oracle.OracleSqlVeer]]).
 * - WERL learns per-column weights over FIXED pre-trained embedding
 *   distances (/root/reference/werl.py:58-68): here the columns are
 *   RLTransE's per-field translated-cosine distances, embeddings
 *   frozen, only the combination learned.
 *
 * Both report their weights in integer micro-units (deterministic
 * export) and their test-split pair metrics.
 */
object Weights {

  final val VeerFeatures = Seq("jw", "lev", "cos")

  /** Deterministic VEER fit defaults — the balanced-GD analogue of the
    * r3 MLlib fit's maxIter=100 / reg=0.001. lr: the 3 channels live in
    * [0, 1] and correlate (they share the record-similarity direction),
    * so the balanced logistic Hessian's top eigenvalue is <= 0.25 *
    * ||x||^2 ~ 0.75 — full-batch GD is monotone for lr < 2/0.75; 1.0
    * converges in well under the 25-iteration grid cell. */
  final val VeerIters = 100
  final val VeerLr = 1.0
  final val VeerReg = 0.001

  /** Grid axes (SparkEntry's grid_veer and the DuckDB replay share
    * these — the oracle unrolls one GD chain per reg and reads the
    * lower-iteration cells as snapshots of the longer chain). */
  final val VeerGridRegs = Seq(0.001, 0.1)
  final val VeerGridIters = Seq(25, 100)

  /** Memoized per (session, sfDir): veer_weights and veer_metrics are
    * independently registered queries and would otherwise each run the
    * full mapPartitions scoring pass. */
  private def veerScored(spark: SparkSession, sfDir: String): DataFrame =
    EntryStages.memo(spark, sfDir, "veer_scored") {
      Scorer.scoreDF(EntryStages.cand(spark, sfDir),
        Scorer.broadcastProjection(spark))
    }

  /** Micro-quantized (jw, lev, cos) feature arrays from ONE memoized
    * scoring pass. jw/lev are engine-bit-identical doubles; the trigram
    * cosine agrees with DuckDB only at the 1e-6 grid (double-summation
    * order, see [[graft.oracle.OracleSql.scoredPairsFull]]) — so ALL
    * channels enter the fit micro-quantized (floor(x*1e6+0.5)/1e6) and
    * a 1-ulp divergence cannot leak into the GD. */
  private def veerFeatDf(spark: SparkSession, sfDir: String): DataFrame =
    EntryStages.memo(spark, sfDir, "veer_feats") {
      veerScored(spark, sfDir).select(
        Seq(col("idA"), col("idB"), col("label"),
          col("split_a"), col("split_b"),
          array(VeerFeatures.map(f => mq6(col(f))): _*).as("feat")): _*)
    }

  /** The 1e-6 grid, half-up: floor(x*1e6 + 0.5)/1e6 — the lattice
    * every balanced-GD tier feeds its channels on. */
  private def mq6(x: Column): Column = floor(x * 1e6 + lit(0.5)) / 1e6

  /** One deterministic class-balanced GD fit over the channels,
    * memoized per (session, sfDir, reg, iters) — grid cells and the
    * default fit each train once. */
  def veerFit(spark: SparkSession, sfDir: String, reg: Double,
              iters: Int): EmbedLogistic.Fit =
    gdFit(spark, sfDir, s"veer_fit:$reg:$iters", veerFeatDf(spark, sfDir),
      VeerFeatures.length, iters, VeerLr, reg)

  /** The balanced-GD fit of one tier over its `feat` channels,
    * memoized per (session, sfDir, key): a grid cell with the default
    * hyperparameters reuses the default fit. */
  private def gdFit(spark: SparkSession, sfDir: String, key: String,
                    feats: => DataFrame, dim: Int, iters: Int, lr: Double,
                    reg: Double): EmbedLogistic.Fit =
    EntryStages.memoModel(spark, sfDir, key) {
      EmbedLogistic.fitBalancedOn(feats,
        EmbedLogistic.Config(dim = dim, iters = iters, lr = lr, reg = reg))
    }

  /** A GD tier's weights and test metrics, memoized per (session,
    * sfDir, key). The operating point is the engine's standard
    * discipline: theta swept on the TRAIN split over
    * dist = 1 - sigmoid(logit) (the balanced GD's logit >= 0 point is
    * recall-heavy on the ~3%-positive pair distribution; the swept
    * threshold recovers the F1-optimal point without touching test
    * labels). */
  private def gdWeightsAndMetrics(spark: SparkSession, sfDir: String,
                                  key: String, feats: => DataFrame,
                                  names: Seq[String],
                                  fit: => EmbedLogistic.Fit): (DataFrame, DataFrame) =
    EntryStages.memoModel(spark, sfDir, key) {
      val (fs, f) = (feats, fit)
      val dist = veerDist(f)
      val theta = Splits.theta(fs, dist, col("label"))
      (weightRows(spark, names, f.w, f.b),
        materialize(Splits.testMetrics(fs, dist, col("label"), theta)))
    }

  /** A GD tier's test F1/P/R and MRR at the train-swept theta — the
    * row a grid cell reports. */
  private def gdTestEval(feats: DataFrame, fit: EmbedLogistic.Fit): Row = {
    val dist = veerDist(fit)
    val theta = Splits.theta(feats, dist, col("label"))
    Splits.testEval(feats, dist, col("label"), theta).head()
  }

  /** MLlib logistic regression (maxIter 100, reg 0.001) over the
    * `features` vector of the train split of `vecs`, and its test-split
    * pair metrics, materialized; `vecs` stays cached while both run. */
  private def mllibFit(vecs: DataFrame): (LogisticRegressionModel, DataFrame) = {
    val data = vecs.persist()
    val m = new LogisticRegression()
      .setLabelCol("label_d").setFeaturesCol("features")
      .setMaxIter(100).setRegParam(0.001).setTol(1e-9)
      .fit(Splits.train(data))
    val metrics = materialize(Metrics.pairMetrics(m.transform(Splits.test(data)),
      (col("prediction") === 1.0).cast("int"), col("label")))
    data.unpersist()
    (m, metrics)
  }

  /** `df` with its `feats` array as the MLlib `features` vector and
    * the double `label_d`. */
  private def withVec(df: DataFrame, feats: Column): DataFrame =
    df.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(feats))
      .withColumn("label_d", col("label").cast("double"))

  /** (feature, weight_nanos) rows + the intercept row. Nano-integer
    * export: GD-fit weights live on the q9 lattice, so these BIGINTs
    * are EXACT and invertible (nanos / 1e9 reproduces the identical
    * doubles) — what lets the staged veer_metrics / werl_batch_metrics
    * oracles reconstruct the fit instead of re-replaying the GD. */
  private def weightRows(spark: SparkSession, feats: Seq[String],
                         coefs: Array[Double], intercept: Double): DataFrame = {
    import spark.implicits._
    (feats.zip(coefs).map { case (f, w) => (f, Classifiers.nanos(w)) } :+
      ("intercept", Classifiers.nanos(intercept)))
      .toDF("feature", "weight_nanos")
  }

  /** A one-row metrics frame collected into a local DataFrame, so later
    * actions on it can't re-trigger the scoring lineage. */
  private def materialize(metrics: DataFrame): DataFrame =
    metrics.sparkSession.createDataFrame(
      java.util.Arrays.asList(metrics.collect(): _*), metrics.schema)

  /** Match-confidence distance of a fit: 1 - sigmoid(logit), in
    * [0, 1] — thresholdable by the standard 50-bucket train-split
    * sweep and rank-equivalent to -logit. */
  private def veerDist(fit: EmbedLogistic.Fit): Column =
    lit(1.0) - lit(1.0) / (lit(1.0) +
      exp(-EmbedLogistic.logitCol(fit, col("feat"))))

  /** VEER weights + test metrics from ONE scoring pass and ONE
    * deterministic GD fit, memoized per (session, sfDir). */
  def veerWeightsAndMetrics(spark: SparkSession, sfDir: String):
      (DataFrame, DataFrame) =
    gdWeightsAndMetrics(spark, sfDir, "veer", veerFeatDf(spark, sfDir),
      VeerFeatures, veerFit(spark, sfDir, VeerReg, VeerIters))

  /** VEER: learned weights over the raw (jw, lev, cos) channels. */
  def veerWeights(spark: SparkSession, sfDir: String): DataFrame =
    veerWeightsAndMetrics(spark, sfDir)._1

  /** VEER metrics: test F1 with the learned weighted combination —
    * must not fall below the fixed-weight flagship. */
  def veerMetrics(spark: SparkSession, sfDir: String): DataFrame =
    veerWeightsAndMetrics(spark, sfDir)._2

  final val WerlFeatures: Seq[String] = RLTransE.ScoredRels.map(r => s"f_$r")

  /** WERL: weights over FROZEN RLTransE per-field distances. Memoized
    * per (session, sfDir): round 2's harness retrained the full
    * RLTransE + logistic stack once per registered query (werl_weights
    * AND werl_metrics); one fit now serves both, and the metrics row is
    * materialized into a local DataFrame so later actions on it can't
    * re-trigger the scoring lineage. */
  def werlWeightsAndMetrics(spark: SparkSession, sfDir: String):
      (DataFrame, DataFrame) =
    EntryStages.memoModel(spark, sfDir, "werl") {
      val model = RLTransE.train(spark, sfDir)
      val (m, metrics) = mllibFit(withVec(
        RLTransE.fieldScores(spark, sfDir, model, testOnly = false),
        array(WerlFeatures.map(f => col(f).cast("double")): _*)))
      (weightRows(spark, WerlFeatures, m.coefficients.toArray, m.intercept),
        metrics)
    }

  def werlWeights(spark: SparkSession, sfDir: String): DataFrame =
    werlWeightsAndMetrics(spark, sfDir)._1

  def werlMetrics(spark: SparkSession, sfDir: String): DataFrame =
    werlWeightsAndMetrics(spark, sfDir)._2

  // --- WERL over the BATCH RLTransE fit: the learned-combination tier
  // with EVERY stage distributed AND SQL-replayable (the sequential
  // flagship fit above is order-dependent by design, so the classic
  // werl_* queries stay rows-only) ---

  /** lr bound: the 6 channels are cosine distances in [0, 2] (mostly
    * [0, 1] after training), so the balanced logistic Hessian's top
    * eigenvalue is <= 0.25 * ||x||^2 <= 6 worst-case — 0.25 keeps
    * full-batch GD monotone even at the bound. */
  final val WerlBatchLr = 0.25
  final val WerlBatchIters = 100
  final val WerlBatchReg = 0.001

  /** Micro-quantized per-field channels of the BATCH RLTransE fit at
    * `epochs` — the batch fit's channel values are engine-bit-identical
    * (the trainer replays in SQL), so the 1e-6 grid here just keeps the
    * GD inputs on the same quantization discipline as VEER. */
  private def werlBatchFeatDf(spark: SparkSession, sfDir: String,
                              epochs: Int = RLTransE.BatchCfg.epochs): DataFrame =
    EntryStages.memo(spark, sfDir, s"werl_batch_feats:$epochs") {
      val model = RLTransE.trainBatch(spark, sfDir,
        RLTransE.BatchCfg.copy(epochs = epochs))
      RLTransE.fieldScores(spark, sfDir, model, testOnly = false)
        .select(Seq(col("idA"), col("idB"), col("label"),
          col("split_a"), col("split_b"),
          array(WerlFeatures.map(f => mq6(col(f))): _*).as("feat")): _*)
    }

  /** The batch tier's balanced-GD fit over the frozen `epochs`-fit
    * channels — one fit per grid cell, shared with the default-tier
    * werl_batch_* queries. */
  private def werlBatchFit(spark: SparkSession, sfDir: String,
                           epochs: Int): EmbedLogistic.Fit =
    gdFit(spark, sfDir, s"werl_batch_fit:$epochs",
      werlBatchFeatDf(spark, sfDir, epochs), WerlFeatures.length,
      WerlBatchIters, WerlBatchLr, WerlBatchReg)

  /** WERL batch tier: deterministic balanced GD over the frozen batch
    * channels, theta swept on the TRAIN split over
    * dist = 1 - sigmoid(logit) — replayed end-to-end by
    * [[graft.oracle.OracleSqlRLTransEBatch]]. */
  def werlBatchWeightsAndMetrics(spark: SparkSession, sfDir: String):
      (DataFrame, DataFrame) =
    gdWeightsAndMetrics(spark, sfDir, "werl_batch",
      werlBatchFeatDf(spark, sfDir), WerlFeatures,
      werlBatchFit(spark, sfDir, RLTransE.BatchCfg.epochs))

  /** grid_werl's epochs axis: half and full batch-fit training
    * (/root/reference/tests/test_werl.py:223-260's epochs loop over
    * the WERL train/test pipeline). */
  final val WerlGridEpochs: Seq[Int] =
    Seq(RLTransE.BatchCfg.epochs / 2, RLTransE.BatchCfg.epochs)

  /** One grid_werl cell: the whole WERL batch tier (batch embedding
    * fit at `epochs`, mq6 channels, balanced GD, train-swept theta) →
    * F1/P/R + test-ranking MRR, the GridSearch.sweep row shape. */
  def werlBatchEval(spark: SparkSession, sfDir: String,
                    epochs: Int): DataFrame = {
    import spark.implicits._
    val m = gdTestEval(werlBatchFeatDf(spark, sfDir, epochs),
      werlBatchFit(spark, sfDir, epochs))
    Seq((m.getAs[Double]("f1"), m.getAs[Double]("precision"),
      m.getAs[Double]("recall"), m.getAs[Double]("mrr")))
      .toDF("f1", "precision", "recall", "mrr")
  }

  def werlBatchWeights(spark: SparkSession, sfDir: String): DataFrame =
    werlBatchWeightsAndMetrics(spark, sfDir)._1

  def werlBatchMetrics(spark: SparkSession, sfDir: String): DataFrame =
    werlBatchWeightsAndMetrics(spark, sfDir)._2

  /** Shared shape of the two unweighted WERL variants: build a single
    * record distance from the frozen per-field RLTransE channels,
    * sweep theta on the TRAIN split only, report test-split pair
    * metrics. Reuses the memoized RLTransE fit — no extra training. */
  private def unweightedEval(spark: SparkSession, sfDir: String,
                             memoKey: String, l1: Boolean): DataFrame =
    EntryStages.memoModel(spark, sfDir, memoKey) {
      val model = RLTransE.train(spark, sfDir)
      val fields = RLTransE
        .fieldScores(spark, sfDir, model, testOnly = false, l1 = l1)
        .persist()
      val dist = WerlFeatures.map(col).reduce(_ + _) / lit(WerlFeatures.length)
      val theta = Splits.theta(fields, dist, col("label"))
      val metrics = materialize(
        Splits.testMetrics(fields, dist, col("label"), theta))
      fields.unpersist()
      metrics
    }

  /** Parameterized VEER eval for the grid harness
    * (/root/reference/tests/test_veer.py:100-133 sweeps the trainer's
    * hyperparameters per combination): one row with test F1/P/R at
    * the train-swept threshold and MRR (ranking by dist =
    * 1 - sigmoid(logit)). Reuses the memoized feature pass; only the
    * GD fit varies per combo. */
  def veerEval(spark: SparkSession, sfDir: String,
               regParam: Double, maxIter: Int): DataFrame = {
    import spark.implicits._
    val m = gdTestEval(veerFeatDf(spark, sfDir),
      veerFit(spark, sfDir, regParam, maxIter))
    Seq((regParam, maxIter.toLong, m.getAs[Double]("f1"),
      m.getAs[Double]("precision"), m.getAs[Double]("recall"),
      m.getAs[Double]("mrr")))
      .toDF("reg", "max_iter", "f1", "precision", "recall", "mrr")
  }

  /** MERL: the UNWEIGHTED mean over the same per-field channels WERL
    * learns weights for — the reference's test_merl path averages the
    * per-column predictions with no learned combination
    * (/root/reference/werl.py:276-332). */
  def merlMetrics(spark: SparkSession, sfDir: String): DataFrame =
    unweightedEval(spark, sfDir, "werl_merl", l1 = false)

  /** No-weight baseline: plain mean-embedding record distance — per
    * field mean(|a + r - b|) (0 when the values are equal), averaged
    * across fields, no trained combination at all — the reference's
    * test_without_weight "Mean Embedding based RL"
    * (/root/reference/werl.py:335-358). */
  def noweightMetrics(spark: SparkSession, sfDir: String): DataFrame =
    unweightedEval(spark, sfDir, "werl_noweight", l1 = true)

  /** Logistic regression over the DIM-WIDE per-field translated
    * difference vectors of the frozen RLTransE fit (dim x |ScoredRels|
    * features per pair) — the reference's LogisticRLTransE tier
    * (/root/reference/tests/test_logistic_rl_transe.py:104-106 fits
    * recordlinkage.LogisticRegressionClassifier on the train links and
    * reports the test links). WERL learns 7 scalar-per-field weights;
    * this tier lets the classifier weight individual embedding
    * DIMENSIONS. Reuses the one memoized RLTransE fit — no extra
    * training. */
  def logisticRlTransEMetrics(spark: SparkSession, sfDir: String): DataFrame =
    EntryStages.memoModel(spark, sfDir, "logistic_rltranse") {
      val model = RLTransE.train(spark, sfDir)
      mllibFit(withVec(RLTransE.fieldDiffFeatures(spark, sfDir, model),
        col("features")))._2
    }

  // --- LogisticRLTransE over the BATCH fit: the dim-wide tier with
  // every stage distributed AND SQL-replayable. The sequential
  // logisticRlTransEMetrics above is bound to the order-dependent
  // flagship fit (rows-only by design); this twin trains the SAME
  // offset tables through the distributed batch trainer and fits the
  // deterministic balanced GD instead of MLlib, so the whole tier is
  // replayed bit-exactly by [[graft.oracle.OracleSqlRLTransEBatch]]. ---

  /** GD hyperparameters for the dim-wide batch tier. Each feature is
    * one dimension of a difference of L2-normalized dim-16 rows
    * translated by a normalized relation row — |x_i| <= 3 worst case,
    * ~0.3 typical — so 0.25 converges comfortably in practice (the
    * fit is deterministic and SQL-replayed regardless of step size;
    * quality is pinned by the F1 band in WeightsSpec). Iteration
    * count is A FIFTH of WERL's 100: each oracle-side GD iteration is
    * a 97-sum aggregate whose DuckDB planning cost scales with the
    * unrolled expression count, and 20 already holds F1 = 1.0 at both
    * gated SFs — more iterations would buy only verification
    * wall-time, not quality. */
  final val LogRltBatchLr = 0.25
  final val LogRltBatchIters = 20
  final val LogRltBatchReg = 0.001

  /** dim x |ScoredRels| — the flattened feature width (field-major:
    * feature f*dim + d is dimension d of field ScoredRels(f), the
    * layout of [[graft.sim.RLTransE.fieldDiffFeatures]]). */
  final val LogRltBatchDim: Int =
    RLTransE.ScoredRels.length * RLTransE.BatchCfg.dim

  final val LogRltBatchFeatures: Seq[String] =
    (0 until LogRltBatchDim).map(i => s"x$i")

  /** mq6-quantized dim-wide per-field translated difference vectors of
    * the BATCH RLTransE fit ((val_a + rel) - val_b per dimension, zero
    * block on equal values, 1.0 fill on missing vocab) — the
    * LogisticRLTransE feature set (reference
    * tests/test_logistic_rl_transe.py) over the distributed trainer.
    * The 1e-6 grid keeps the GD inputs on the same quantization
    * discipline as VEER/WERL-batch and makes the anchor dump's micro
    * integers exactly invertible. */
  private def logRltBatchFeatDf(spark: SparkSession,
                                sfDir: String): DataFrame =
    EntryStages.memo(spark, sfDir, "logrlt_batch_feats") {
      val model = RLTransE.trainBatch(spark, sfDir, RLTransE.BatchCfg)
      RLTransE.fieldDiffFeatures(spark, sfDir, model)
        .withColumn("feat", transform(col("features"), mq6(_)))
        .drop("features")
    }

  /** The anchor dump the logistic_rltranse_batch_* oracles stage on:
    * per-pair exact micro-integer features (BIGINT lattice points —
    * micros / 1e6 reconstructs the identical doubles both engines
    * feed the GD). */
  def logRltBatchFeats(spark: SparkSession, sfDir: String): DataFrame =
    logRltBatchFeatDf(spark, sfDir).select(
      Seq(col("idA"), col("idB"), col("label"),
        col("split_a"), col("split_b")) ++
        (0 until LogRltBatchDim).map(i =>
          floor(element_at(col("feat"), i + 1) * lit(1e6) + lit(0.5))
            .cast("long").as(s"x${i}_micros")): _*)

  private def logRltBatchFit(spark: SparkSession,
                             sfDir: String): EmbedLogistic.Fit =
    gdFit(spark, sfDir, "logrlt_batch_fit", logRltBatchFeatDf(spark, sfDir),
      LogRltBatchDim, LogRltBatchIters, LogRltBatchLr, LogRltBatchReg)

  /** LogisticRLTransE batch tier: nano-exact weights + test metrics
    * (train-swept theta over dist = 1 - sigmoid(logit)) — the
    * werl_batch shape over the dim-wide features, one memoized fit
    * serving both registered queries. */
  def logRltBatchWeightsAndMetrics(spark: SparkSession, sfDir: String):
      (DataFrame, DataFrame) =
    gdWeightsAndMetrics(spark, sfDir, "logrlt_batch",
      logRltBatchFeatDf(spark, sfDir), LogRltBatchFeatures,
      logRltBatchFit(spark, sfDir))

  def logRltBatchWeights(spark: SparkSession, sfDir: String): DataFrame =
    logRltBatchWeightsAndMetrics(spark, sfDir)._1

  def logRltBatchMetrics(spark: SparkSession, sfDir: String): DataFrame =
    logRltBatchWeightsAndMetrics(spark, sfDir)._2
}
