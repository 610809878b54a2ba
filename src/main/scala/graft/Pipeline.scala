package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ckpt.Checkpoint
import graft.gen.Synth
import graft.pipe.{Blocking, Cluster, Normalize, Splits}
import graft.sim.{Embed, Scorer}

/**
 * The flagship end-to-end linkage pipeline (SURVEY.md §7.2, mirroring
 * the reference's census RLTransE entry point, §3.3):
 *
 *   synth records -> normalize + sha -> block keys -> salted candidate
 *   join -> mapPartitions scoring (JW + Levenshtein + broadcast-matrix
 *   cosine) -> threshold sweep on the train split -> match edges ->
 *   large-star/small-star connected components -> pairwise F1 on the
 *   test split.
 *
 * Stages checkpoint to Parquet with lineage when `ckptRoot` is given.
 *
 * The stage decisions of this chain — the keyed recipe, the pair
 * distance and the edge projection — are defined here once;
 * [[Bench.stages]] (the six stages [[Bench]] and [[BenchExtra]] time),
 * [[EntryStages]] and [[warm]] call them. The train-swept theta and
 * the test metrics come from [[Splits]].
 */
object Pipeline {

  /** What a run leaves to its caller: the keyed records, the scored
    * pairs (cached by the run; the caller unpersists them), theta, the
    * `(id, cluster)` assignment and the one-row summary (local). */
  final case class Outputs(
      keyed: DataFrame, scored: DataFrame, theta: Double,
      clusters: DataFrame, summary: DataFrame)

  /** Records -> normalized content + block key. */
  def keyRecords(records: DataFrame): DataFrame =
    Blocking.withBlockKey(Normalize(records))

  /** Pair distance `1 - score`: the threshold and the edges cut on it. */
  val dist: Column = lit(1.0) - col("score")

  /** Match edges `(src, dst)`: the pairs at distance <= theta. */
  def edgesAt(scored: DataFrame, theta: Double): DataFrame =
    scored.filter(dist <= theta)
      .select(col("idA").as("src"), col("idB").as("dst"))

  /** What the keyed and candidates stages compute with beyond the
    * source: the normalization's whitespace pattern and the block-key
    * pattern. */
  private[graft] val InputKey: Seq[String] = Seq(
    s"norm_ws=${Normalize.Whitespace}", s"block_key=${Blocking.KeyPattern}")

  /** What the scored stage computes with beyond its input: the score
    * weights and the projection's seed and width. */
  private[graft] val ScorerKey: Seq[String] = Seq(
    s"w_jw=${Scorer.WJw}", s"w_lev=${Scorer.WLev}", s"w_cos=${Scorer.WCos}",
    s"proj_seed=${Embed.ProjSeed}", s"dim=${Embed.DefaultDim}")

  /** Checkpoint fingerprints `(keyed and candidates, scored)`: the
    * first covers the source, the salts ([[Blocking.Salts]]) and
    * `input`, the second also folds in `scorer`, so a scorer change
    * recomputes `scored` (and `clusters`, keyed on it) while the stages
    * before it are served. */
  private[graft] def fingerprints(sfDir: String,
                                  scorer: Seq[String] = ScorerKey,
                                  input: Seq[String] = InputKey): (String, String) = {
    val fpInput = Checkpoint.fingerprint(sfDir +: s"salts=${Blocking.Salts}" +: input: _*)
    (fpInput, Checkpoint.fingerprint(fpInput +: scorer: _*))
  }

  def run(spark: SparkSession, sfDir: String,
          ckptRoot: Option[String] = None): Outputs = {

    def ck(name: String, fp: String)(df: => DataFrame): DataFrame =
      ckptRoot match {
        case Some(root) => Checkpoint.stage(spark, root, name, fp)(df).df
        case None => df
      }

    val (fpInput, fpScored) = fingerprints(sfDir)

    // the records are read inside the stage, so a resumed run does not
    // touch the source
    val keyed = ck("keyed", fpInput) {
      keyRecords(Synth.records(spark, sfDir))
    }
    val candidates = ck("candidates", fpInput) {
      Blocking.candidates(keyed)
    }
    val proj = Scorer.broadcastProjection(spark)
    val scored = ck("scored", fpScored) {
      Scorer.scoreDF(candidates, proj)
    }.persist()

    // one aggregate over scored gives theta, the test counts at it and
    // the pair count
    val d = Splits.decide(scored, dist, col("label"))
    val theta = d.theta

    val clusters = ck("clusters", Checkpoint.fingerprint(fpScored, theta.toString)) {
      Cluster.assign(keyed.select("id"), edgesAt(scored, theta))
    }

    // clusters has one row per record, and each cluster's label is one
    // of its members' ids (the component minimum, or a singleton's own)
    val c = clusters.agg(count(lit(1)), count(when(col("id") === col("cluster"), 1))).head()
    val (nRecords, nClusters) = (c.getLong(0), c.getLong(1))
    import spark.implicits._
    val summary = Seq((theta, d.f1, d.precision, d.recall, d.tp, d.fp, d.fn,
        d.pairs, nRecords, nClusters))
      .toDF("theta", "test_f1", "test_precision", "test_recall",
        "tp", "fp", "fn", "n_candidate_pairs", "n_records", "n_clusters")

    Outputs(keyed, scored, theta, clusters, summary)
  }

  /**
   * Untimed JIT and codegen warm-up for a timed run in a fresh JVM.
   * One keyed+blocking pass over `sfDir` caches `keyed`, writes the
   * candidates to the noop sink and releases the cache, so the
   * whole-stage classes the timed stages run are compiled and nothing
   * is kept: every timed stage still computes from parquet. Then the
   * driver-side scorer kernels are warmed ([[Scorer.warmKernels]]).
   * [[Bench]] (each probe fork too) and [[BenchExtra]] call it before
   * their timers start; no builder warms anything.
   */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription("warm: untimed keyed+blocking pass (JIT/codegen only)")
    try {
      val keyed = keyRecords(Synth.records(spark, sfDir)).persist()
      keyed.count()
      Blocking.candidates(keyed).write.format("noop").mode("overwrite").save()
      keyed.unpersist(true)
    } finally sc.setJobDescription(null)
    Scorer.warmKernels()
  }

  /** Flagship entry: summary row (driver smoke-checks rows > 0). */
  def summary(spark: SparkSession, sfDir: String): DataFrame =
    run(spark, sfDir).summary
}
