package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.EntryStages
import graft.eval.Metrics
import graft.pipe.Splits

/**
 * Fellegi-Sunter-style pairwise match classifiers over binary
 * comparator features, mirroring the reference's three baselines:
 * ECM (unsupervised EM, /root/reference/tests/fs/test_ecm_classifier.py),
 * supervised logistic regression
 * (/root/reference/tests/fs/test_logistic_regression.py), and k-means
 * k=2 (/root/reference/tests/fs/test_kmeans_clustering.py).
 *
 * Features (binary, per candidate pair): exact content equality and
 * thresholded JW/Levenshtein comparators — the engine analogue of the
 * reference's 6-comparator census set (JW@0.85 + exact,
 * /root/reference/data/census.py:140-168).
 */
object Classifiers {

  final val NFeatures = 5

  /** Adds f0..f4 binary features and the packed `pattern` in [0, 32). */
  def withFeatures(scoredp: DataFrame): DataFrame =
    scoredp
      .withColumn("f0", (col("content_a") === col("content_b")).cast("int"))
      .withColumn("f1", (col("jw") >= 0.85).cast("int"))
      .withColumn("f2", (col("lev") >= 0.9).cast("int"))
      .withColumn("f3", (col("jw") >= 0.95).cast("int"))
      .withColumn("f4", (col("lev") >= 0.75).cast("int"))
      .withColumn("pattern",
        (col("f0") * 16 + col("f1") * 8 + col("f2") * 4 + col("f3") * 2 +
          col("f4")).cast("int"))

  /** EM result: per-pattern posterior match probability. */
  final case class EcmModel(p: Double, m: Array[Double], u: Array[Double]) {
    def posterior(pattern: Int): Double = {
      var pm = p
      var pu = 1 - p
      var i = 0
      while (i < NFeatures) {
        val bit = (pattern >> (NFeatures - 1 - i)) & 1
        pm *= (if (bit == 1) m(i) else 1 - m(i))
        pu *= (if (bit == 1) u(i) else 1 - u(i))
        i += 1
      }
      if (pm + pu == 0) 0.0 else pm / (pm + pu)
    }
  }

  /**
   * ECM: expectation-maximization over the (tiny) histogram of binary
   * feature patterns — the EM loop runs driver-side over <= 32
   * aggregated counts (one distributed groupBy, [[patternHist]]),
   * exactly the right
   * split of work at any scale (/root/reference cites
   * recordlinkage.ECMClassifier; iterations fixed for determinism).
   */
  /** Fixed EM iteration count, single-sourced with the DuckDB oracle
    * (OracleSql.EcmIters) so BOTH engines run the identical number of
    * M-steps — no freeze-point assumption needed for the compare. 120
    * is past the measured bit-exact freeze at every gated SF (6 at
    * sf0.001, 84 at sf0.01) and is what DuckDB's parser depth allows
    * when unrolled. */
  final val EcmFitIters = 120

  def fitEcm(hist: Array[(Int, Long)], iters: Int = EcmFitIters): EcmModel = {
    val total = hist.map(_._2).sum.toDouble
    var p = 0.1
    var m = Array.fill(NFeatures)(0.9)
    var u = Array.fill(NFeatures)(0.1)
    var it = 0
    while (it < iters) {
      val model = EcmModel(p, m, u)
      // E-step: weight per pattern; M-step accumulators
      var wSum = 0.0
      val mNum = Array.fill(NFeatures)(0.0)
      val uNum = Array.fill(NFeatures)(0.0)
      var uSum = 0.0
      hist.foreach { case (pat, n) =>
        val w = model.posterior(pat)
        wSum += w * n
        uSum += (1 - w) * n
        var i = 0
        while (i < NFeatures) {
          val bit = (pat >> (NFeatures - 1 - i)) & 1
          if (bit == 1) { mNum(i) += w * n; uNum(i) += (1 - w) * n }
          i += 1
        }
      }
      p = math.min(math.max(wSum / total, 1e-9), 1 - 1e-9)
      var i = 0
      while (i < NFeatures) {
        m(i) = math.min(math.max(mNum(i) / wSum, 1e-9), 1 - 1e-9)
        u(i) = math.min(math.max(uNum(i) / uSum, 1e-9), 1 - 1e-9)
        i += 1
      }
      it += 1
    }
    EcmModel(p, m, u)
  }

  /** The one ECM fit of the session per sfDir, with the pattern
    * histogram it was fit on: fs_ecm_patterns and fs_ecm_metrics share
    * it, as the k-means and logreg queries share theirs. */
  private def ecmFit(spark: SparkSession,
                     sfDir: String): (Array[(Int, Long)], EcmModel) =
    EntryStages.memoModel(spark, sfDir, "fs_ecm") {
      val hist = patternHist(withFeatures(EntryStages.scoredp(spark, sfDir)))
      (hist, fitEcm(hist))
    }

  /** Per-pattern table: n, posterior (micro-units), predicted flag. */
  def ecmPatterns(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val (hist, model) = ecmFit(spark, sfDir)
    hist.map { case (pat, n) =>
      val post = model.posterior(pat)
      (pat, n, math.round(post * 1000000), if (post >= 0.5) 1L else 0L)
    }.toSeq.toDF("pattern", "n", "posterior_micros", "predicted_match")
  }

  /** ECM predictions evaluated against truth on the test split. */
  def ecmMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = withFeatures(EntryStages.scoredp(spark, sfDir))
    val (_, model) = ecmFit(spark, sfDir)
    val matchPatterns = (0 until (1 << NFeatures))
      .filter(p => model.posterior(p) >= 0.5)
    val predicted = col("pattern").isin(matchPatterns: _*).cast("int")
    Metrics.pairMetrics(Splits.test(feats), predicted, col("label"))
  }

  // ---- Deterministic histogram fits (bit-replayable in SQL) --------
  //
  // Both supervised baselines below run over the <= 32-bucket pattern
  // histogram, like fitEcm: one distributed groupBy, then an O(32)
  // driver loop — the correct work split at any scale, and the whole
  // fit trajectory is replayable as unrolled DuckDB CTEs so the
  // trained PARAMETERS (not just downstream counts) are oracle-checked
  // bit for bit. Two disciplines make the replay exact:
  //  - nano-quantization: parameters are snapped to a 1e-9 grid after
  //    every update (floor(x*1e9 + 0.5)/1e9 — identical IEEE ops in
  //    both engines), absorbing last-ulp differences from each
  //    engine's own aggregation order / exp kernel before they can
  //    compound across iterations;
  //  - fixed evaluation order: every dot product / distance is an
  //    explicit left-to-right chain over f0..f4, mirrored literally in
  //    the generated SQL.

  /** Snap to the 1e-9 grid, half-up — same two IEEE ops as the SQL
    * `floor(x * 1e9 + 0.5) / 1e9` (math.rint would round half-to-even
    * and DuckDB round() half-away-from-zero; floor(+0.5) is the one
    * form both engines express identically for either sign). */
  @inline private[graft] def q9(x: Double): Double =
    math.floor(x * 1e9 + 0.5) / 1e9

  /** The nano-integer export of a q9 value: `floor(x * 1e9 + 0.5)`,
    * the same two IEEE ops as [[q9]], so `nanos(x) / 1e9` reproduces
    * a q9-lattice `x` exactly. */
  private[graft] def nanos(x: Double): Long = math.floor(x * 1e9 + 0.5).toLong

  private def bitsOf(pattern: Int): Array[Double] = {
    val b = new Array[Double](NFeatures)
    var i = 0
    while (i < NFeatures) {
      b(i) = ((pattern >> (NFeatures - 1 - i)) & 1).toDouble
      i += 1
    }
    b
  }

  // ---- k-means k=2 --------------------------------------------------

  /** Lloyd iteration count, single-sourced with the DuckDB oracle
    * (OracleSql.KmIters). On a 32-point space Lloyd's freezes within a
    * handful of rounds; 30 is comfortably past it at every gated SF. */
  final val KmFitIters = 30

  /** k=2 centroids; cluster 1 (init 0.95^5) is the match cluster by
    * construction — the reference classifier's deterministic init
    * (recordlinkage KMeansClassifier seeds match/nonmatch centroids at
    * 0.95/0.05, tests/fs/test_kmeans_clustering.py). */
  final case class KmModel(cm: Array[Double], cu: Array[Double]) {
    /** squared distances accumulated f0..f4 left-to-right. */
    def isMatch(pattern: Int): Boolean = {
      val bits = bitsOf(pattern)
      var dm = 0.0
      var du = 0.0
      var i = 0
      while (i < NFeatures) {
        dm += (bits(i) - cm(i)) * (bits(i) - cm(i))
        du += (bits(i) - cu(i)) * (bits(i) - cu(i))
        i += 1
      }
      dm < du // tie -> non-match, mirrored in SQL
    }
  }

  /** Deterministic Lloyd's over the weighted pattern histogram. An
    * emptied cluster keeps its previous centroid. Centroid means are
    * ratios of exact integers (n * bit sums), so the only float op per
    * coordinate is one division — nano-quantized for uniformity with
    * the logistic fit. */
  def fitKmeans(hist: Array[(Int, Long)], iters: Int = KmFitIters): KmModel = {
    var cm = Array.fill(NFeatures)(0.95)
    var cu = Array.fill(NFeatures)(0.05)
    var it = 0
    while (it < iters) {
      val model = KmModel(cm, cu)
      var nm = 0L
      var nu = 0L
      val sm = Array.fill(NFeatures)(0L)
      val su = Array.fill(NFeatures)(0L)
      hist.foreach { case (pat, n) =>
        val toMatch = model.isMatch(pat)
        if (toMatch) nm += n else nu += n
        var i = 0
        while (i < NFeatures) {
          val bit = (pat >> (NFeatures - 1 - i)) & 1
          if (bit == 1) { if (toMatch) sm(i) += n else su(i) += n }
          i += 1
        }
      }
      cm = Array.tabulate(NFeatures)(i =>
        if (nm > 0) q9(sm(i).toDouble / nm) else cm(i))
      cu = Array.tabulate(NFeatures)(i =>
        if (nu > 0) q9(su(i).toDouble / nu) else cu(i))
      it += 1
    }
    KmModel(cm, cu)
  }

  /** The (pattern, n) histogram the deterministic fits run over,
    * sorted by pattern. */
  private[graft] def patternHist(feats: DataFrame): Array[(Int, Long)] =
    feats.groupBy("pattern").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)

  private def kmeansFit(spark: SparkSession, sfDir: String): KmModel =
    EntryStages.memoModel(spark, sfDir, "fs_kmeans") {
      fitKmeans(patternHist(
        withFeatures(EntryStages.scoredp(spark, sfDir))))
    }

  /** Unsupervised k-means (k=2, deterministic 0.95/0.05 init) fit on
    * ALL candidate pairs; test-split metrics with the match cluster. */
  def kmeansMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = withFeatures(EntryStages.scoredp(spark, sfDir))
    val model = kmeansFit(spark, sfDir)
    val matchPatterns = (0 until (1 << NFeatures)).filter(model.isMatch)
    Metrics.pairMetrics(Splits.test(feats),
      col("pattern").isin(matchPatterns: _*).cast("int"), col("label"))
  }

  /** Final centroids in micro-units: (cluster, c0..c4); cluster 1 =
    * match. Oracle-checks the FIT itself, not just downstream counts. */
  def kmeansCentroids(spark: SparkSession, sfDir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val m = kmeansFit(spark, sfDir)
    // nano-integer export: centroids live on the q9 lattice, so these
    // BIGINTs are EXACT and invertible (nanos / 1e9 reproduces the
    // identical doubles) — what lets fs_kmeans_metrics' staged oracle
    // reconstruct the fit instead of re-replaying Lloyd
    val (u, mm) = (m.cu.map(nanos), m.cm.map(nanos))
    Seq((0L, u(0), u(1), u(2), u(3), u(4)),
        (1L, mm(0), mm(1), mm(2), mm(3), mm(4)))
      .toDF("cluster", "c0_nanos", "c1_nanos", "c2_nanos", "c3_nanos",
        "c4_nanos")
  }

  // ---- supervised logistic regression -------------------------------

  /** Full-batch GD iteration count / rate / L2, single-sourced with the
    * DuckDB oracle (OracleSql.LrIters etc). Mean logistic loss over
    * binary features has Lipschitz smoothness <= 0.25*(5+1), so rate
    * 1.0 is a guaranteed-descent step; 80 unrolled iterations stay
    * under DuckDB's parser depth (ECM already unrolls 120). */
  final val LrFitIters = 80
  final val LrRate = 1.0
  final val LrReg = 0.001

  /** Weights over f0..f4 + intercept; match iff the logit (computed
    * f0..f4 left-to-right, then + b) is >= 0. */
  final case class LrModel(w: Array[Double], b: Double) {
    def logit(pattern: Int): Double = {
      val bits = bitsOf(pattern)
      var z = 0.0
      var i = 0
      while (i < NFeatures) { z += w(i) * bits(i); i += 1 }
      z + b
    }
    def isMatch(pattern: Int): Boolean = logit(pattern) >= 0.0
  }

  /**
   * Deterministic full-batch gradient descent over the LABELED train
   * histogram (<= 64 cells: pattern x label). Mean gradient + L2 on
   * the weights (not the intercept), nano-quantized parameters per
   * iteration. Cells are folded in (pattern, label) order; the SQL
   * replay aggregates in engine order — the quantization absorbs the
   * difference (sub-1e-9 per step by construction).
   */
  def fitLogReg(cells: Array[(Int, Int, Long)],
                iters: Int = LrFitIters): LrModel = {
    val total = cells.map(_._3).sum.toDouble
    var w = Array.fill(NFeatures)(0.0)
    var b = 0.0
    var it = 0
    while (it < iters) {
      val model = LrModel(w, b)
      val gw = Array.fill(NFeatures)(0.0)
      var gb = 0.0
      cells.foreach { case (pat, label, n) =>
        val p = 1.0 / (1.0 + math.exp(-model.logit(pat)))
        val err = (p - label) * n
        var i = 0
        while (i < NFeatures) {
          val bit = (pat >> (NFeatures - 1 - i)) & 1
          if (bit == 1) gw(i) += err
          i += 1
        }
        gb += err
      }
      w = Array.tabulate(NFeatures)(i =>
        q9(w(i) - LrRate * (gw(i) / total + LrReg * w(i))))
      b = q9(b - LrRate * (gb / total))
      it += 1
    }
    LrModel(w, b)
  }

  private def trainCells(feats: DataFrame): Array[(Int, Int, Long)] =
    Splits.train(feats)
      .groupBy("pattern", "label").count()
      .collect()
      .map(r => (r.getInt(0), r.getAs[Number](1).intValue, r.getLong(2)))
      .sortBy(c => (c._1, c._2))

  private def logRegFit(spark: SparkSession, sfDir: String): LrModel =
    EntryStages.memoModel(spark, sfDir, "fs_logreg") {
      fitLogReg(trainCells(withFeatures(EntryStages.scoredp(spark, sfDir))))
    }

  /** Supervised logistic regression: train split -> test F1. */
  def logRegMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = withFeatures(EntryStages.scoredp(spark, sfDir))
    val model = logRegFit(spark, sfDir)
    val matchPatterns = (0 until (1 << NFeatures)).filter(model.isMatch)
    Metrics.pairMetrics(Splits.test(feats),
      col("pattern").isin(matchPatterns: _*).cast("int"), col("label"))
  }

  /** Learned weights in nano-units (EXACT on the q9 lattice, so the
    * staged fs_logreg_metrics oracle reconstructs the identical
    * doubles): f0..f4 rows + the intercept row — the fs analogue of
    * veer_weights, but oracle-checkable. */
  def logRegWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val m = logRegFit(spark, sfDir)
    ((0 until NFeatures).map(i => (s"f$i", nanos(m.w(i)))) :+
      ("intercept", nanos(m.b)))
      .toDF("feature", "weight_nanos")
  }
}
