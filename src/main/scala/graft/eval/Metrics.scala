package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Pairwise-classification and IR evaluation metrics as distributed
 * aggregations.
 *
 * Reference computes these driver-side over Python lists:
 * confusion/P/R/F1 (/root/reference/common.py:51-67), P@k / MAP / MRR
 * (/root/reference/common.py:300-339) with an O(|A|x|B|) membership
 * scan per query entity. Here every evaluator is built from the same
 * private pieces: one ranking window per query entity (partitionBy idA,
 * orderBy distance then idB), one per-query IR reduction, the confusion
 * sums, and one projection each for P/R/F1 and for MRR/MAP/P@1. Every
 * evaluator returns a lazy frame: defining it runs no Spark job.
 *
 * Float discipline: every exported metric derives from integer counts
 * or integer micro-units (1e-6), never from a floating-point SUM whose
 * addend order Spark doesn't pin — so results hash-match the DuckDB
 * oracle bit-for-bit.
 */
object Metrics {

  /** P@k grid matching the reference's logged ks
    * (/root/reference/common.py:300-308 logs P@1/3/5/10). Single
    * source of truth for [[pAtK]] and the DuckDB oracle. */
  final val DefaultKs: Seq[Int] = Seq(1, 3, 5, 10)

  /** The confusion sums tp, fp, fn, tn of a 0/1 prediction vs a 0/1
    * label, as aggregate columns. */
  private def confusion(predicted: Column, label: Column): Seq[Column] = {
    val (p, l) = (predicted.cast("int"), label.cast("int"))
    Seq((1, 1, "tp"), (1, 0, "fp"), (0, 1, "fn"), (0, 0, "tn")).map { case (pv, lv, name) =>
      sum(when(p === pv && l === lv, 1L).otherwise(0L)).as(name)
    }
  }

  /** Precision, recall and F1 of the `tp`, `fp`, `fn` columns. */
  private val precisionRecallF1: Seq[Column] = {
    val (tp, fp, fn) = (col("tp"), col("fp"), col("fn"))
    Seq(when(tp + fp === 0, 0.0).otherwise(tp / (tp + fp)).as("precision"),
      when(tp + fn === 0, 0.0).otherwise(tp / (tp + fn)).as("recall"),
      when(tp === 0, 0.0).otherwise(tp * 2 / (tp * 2 + fp + fn)).as("f1"))
  }

  /**
   * The one ranking: each query entity's candidates by ascending
   * distance, ties broken by idB, with `rank`, the 0/1 `lbl`, the
   * running `cum_rel` and precision@rank at each relevant hit in
   * micro-units (`prec_micros`, an exact integer).
   */
  private def ranking(scored: DataFrame, dist: Column, label: Column): DataFrame = {
    val w = Window.partitionBy("idA").orderBy(dist.asc, col("idB").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("lbl", label.cast("long"))
      .withColumn("cum_rel", sum(col("lbl")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prec_micros",
        when(col("lbl") === 1,
          round(col("cum_rel") * 1000000.0 / col("rank")).cast("long"))
          .otherwise(0L))
  }

  /**
   * The one per-query IR reduction of a [[ranking]] frame: `extra`
   * aggregates first, then n_rel, first_rel_rank, hits_at_1 and
   * ap_micros (average precision in 1e-6 units; every addend is an
   * integer, so the sum is order-independent).
   */
  private def perQuery(ranked: DataFrame, extra: Column*): DataFrame = {
    val aggs = extra ++ Seq(
      sum("lbl").as("n_rel"),
      coalesce(min(when(col("lbl") === 1, col("rank"))), lit(0L)).as("first_rel_rank"),
      max(when(col("rank") === 1, col("lbl")).otherwise(0L)).as("hits_at_1"),
      sum("prec_micros").as("sum_prec_micros"))
    ranked.groupBy("idA").agg(aggs.head, aggs.tail: _*)
      // floor(), not cast: DuckDB's double->int cast rounds while Spark's
      // truncates; floor is identical in both engines.
      .withColumn("ap_micros",
        when(col("n_rel") === 0, 0L)
          .otherwise(floor(col("sum_prec_micros") / col("n_rel")).cast("long")))
      .drop("sum_prec_micros")
  }

  /** A query's reciprocal rank in micro-units, 0 without a relevant
    * candidate. */
  private val rrMicros: Column =
    when(col("n_rel") === 0, 0L)
      .otherwise(round(lit(1000000.0) / col("first_rel_rank")).cast("long"))

  /** MRR, MAP and mean P@1 of the micro-unit sums `srr`, `sap` and the
    * hit count `sh1` over `n` queries: 0.0 when `n` is 0, null when it
    * is null. */
  private def irRatios(n: Column): Seq[Column] = Seq(
    when(n === 0, 0.0).otherwise(col("srr") / n / 1000000.0).as("mrr"),
    when(n === 0, 0.0).otherwise(col("sap") / n / 1000000.0).as("map"),
    when(n === 0, 0.0).otherwise((col("sh1") / n).cast("double")).as("p_at_1"))

  /**
   * Confusion + precision/recall/F1/accuracy for a predicted match set
   * vs truth over a candidate universe.
   *
   * @param scored one row per candidate pair with `predicted` (bool-ish
   *               0/1) and `label` (0/1) columns.
   */
  def pairMetrics(scored: DataFrame, predicted: Column, label: Column): DataFrame = {
    val (tp, fp, fn, tn) = (col("tp"), col("fp"), col("fn"), col("tn"))
    val sums = confusion(predicted, label)
    scored.agg(sums.head, sums.tail: _*)
      .select(Seq(tp, fp, fn, tn) ++ precisionRecallF1 :+
        ((tp + tn) / (tp + fp + fn + tn)).as("accuracy"): _*)
  }

  /**
   * Per-query-entity IR facts: the [[ranking]]'s candidates of each idA
   * reduced to integers — n_candidates, n_rel, first_rel_rank,
   * hits_at_1, ap_micros.
   */
  def irQueryFacts(scored: DataFrame, dist: Column, label: Column): DataFrame =
    perQuery(ranking(scored, dist, label), count(lit(1)).as("n_candidates"))

  /**
   * Mean precision@k for each k in `ks` over query entities with >= 1
   * relevant candidate (/root/reference/common.py:300-308), in exact
   * micro-units: one aggregate over the queries, exploded to one row
   * per k (k, n_queries, mean_p_at_k). With no such query the sums are
   * null and every mean is 0.0 rather than NaN, matching a COALESCE'd
   * oracle expression; the coalesce also keeps every column NOT NULL.
   */
  def pAtK(scored: DataFrame, dist: Column, label: Column,
           ks: Seq[Int] = DefaultKs): DataFrame = {
    val hits = ks.map(k =>
      sum(when(col("rank") <= k, col("lbl")).otherwise(0L)).as(s"hits_$k"))
    val n = col("n_queries")
    perQuery(ranking(scored, dist, label), hits: _*)
      .filter(col("n_rel") > 0)
      .agg(count(lit(1)).as("n_queries"), ks.map(k =>
        sum(round(col(s"hits_$k") * 1000000.0 / k).cast("long")).as(s"sp_$k")): _*)
      .select(explode(array(ks.map(k => struct(lit(k.toLong).as("k"), n,
        coalesce(col(s"sp_$k") / n / 1000000.0, lit(0.0)).as("mean_p_at_k"))): _*)).as("r"))
      .select("r.*")
  }

  /**
   * Fused single-pass evaluation: pairwise confusion metrics at a fixed
   * threshold AND the IR metrics (MRR/MAP/P@1), computed from ONE
   * ranking window + ONE per-query aggregation (with the confusion
   * sums) + ONE global aggregation — the two-pass pairMetrics+irMetrics
   * split costs a second full shuffle of the scored pairs for no reason.
   */
  def fullEval(scored: DataFrame, dist: Column, label: Column,
               theta: Double): DataFrame = {
    val relevant = col("n_rel") > 0
    perQuery(ranking(scored, dist, label), confusion(dist <= theta, label): _*)
      .withColumn("rr_micros", rrMicros)
      .agg(sum("tp").as("tp"), sum("fp").as("fp"),
        sum("fn").as("fn"), sum("tn").as("tn"),
        sum(relevant.cast("long")).as("n_queries"),
        sum(when(relevant, col("rr_micros")).otherwise(0L)).as("srr"),
        sum(when(relevant, col("ap_micros")).otherwise(0L)).as("sap"),
        sum(when(relevant, col("hits_at_1")).otherwise(0L)).as("sh1"))
      .select(Seq(col("tp"), col("fp"), col("fn"), col("tn")) ++ precisionRecallF1 ++
        (col("n_queries") +: irRatios(col("n_queries"))): _*)
  }

  /**
   * Global IR metrics over query entities that have >= 1 relevant
   * candidate (as the reference iterates only entities present in
   * true_pairs, /root/reference/common.py:282-294):
   * MRR, MAP, mean P@1. Without such a query the ratios are null, and
   * n_queries 0.
   */
  def irMetrics(scored: DataFrame, dist: Column, label: Column): DataFrame =
    irQueryFacts(scored, dist, label).filter(col("n_rel") > 0)
      .withColumn("rr_micros", rrMicros)
      .agg(count(lit(1)).as("n_queries"),
        sum("rr_micros").as("srr"), sum("ap_micros").as("sap"), sum("hits_at_1").as("sh1"))
      .select(col("n_queries") +: irRatios(nullif(col("n_queries"), lit(0L))): _*)
}
