package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ckpt.Checkpoint
import graft.gen.Synth
import graft.pipe.{Blocking, Cluster, Normalize, Splits}
import graft.sim.Scorer

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
 * [[BenchExtra]], [[EntryStages]] and the JIT warm in [[Synth]] call
 * them. The train-swept theta and the test metrics come from
 * [[Splits]]. [[Bench]] keeps a frozen copy.
 */
object Pipeline {

  final case class Outputs(
      keyed: DataFrame, candidates: DataFrame,
      scored: DataFrame, theta: Double, edges: DataFrame,
      clusters: DataFrame, testMetrics: DataFrame, summary: DataFrame)

  /** Records -> normalized content + block key. */
  def keyRecords(records: DataFrame): DataFrame =
    Blocking.withBlockKey(Normalize(records))

  /** Pair distance `1 - score`: the threshold and the edges cut on it. */
  val dist: Column = lit(1.0) - col("score")

  /** Match edges `(src, dst)`: the pairs at distance <= theta. */
  def edgesAt(scored: DataFrame, theta: Double): DataFrame =
    scored.filter(dist <= theta)
      .select(col("idA").as("src"), col("idB").as("dst"))

  def run(spark: SparkSession, sfDir: String,
          ckptRoot: Option[String] = None, salts: Int = 64): Outputs = {

    def ck(name: String, fp: String)(df: => DataFrame): DataFrame =
      ckptRoot match {
        case Some(root) => Checkpoint.stage(spark, root, name, fp)(df).df
        case None => df
      }

    val fpBase = Checkpoint.fingerprint(sfDir, "v1", s"salts=$salts")

    // the records are read inside the stage, so a resumed run does not
    // touch the source
    val keyed = ck("keyed", fpBase) {
      keyRecords(Synth.records(spark, sfDir))
    }
    val candidates = ck("candidates", fpBase) {
      Blocking.candidates(keyed, salts)
    }
    val proj = Scorer.broadcastProjection(spark)
    val scored = ck("scored", fpBase) {
      Scorer.scoreDF(candidates, proj)
    }.persist()

    val theta = Splits.theta(scored, dist, col("label"))

    val edges = edgesAt(scored, theta)
    val clusters = ck("clusters", Checkpoint.fingerprint(fpBase, theta.toString)) {
      Cluster.assign(keyed.select("id"), edges)
    }

    val testMetrics = Splits.testMetrics(scored, dist, col("label"), theta)

    val m = testMetrics.head()
    val nClusters = clusters.select(countDistinct("cluster")).head().getLong(0)
    val nRecords = keyed.count()
    val nPairs = scored.count()
    import spark.implicits._
    val summary = Seq((theta, m.getAs[Double]("f1"), m.getAs[Double]("precision"),
        m.getAs[Double]("recall"), m.getAs[Long]("tp"), m.getAs[Long]("fp"),
        m.getAs[Long]("fn"), nPairs, nRecords, nClusters))
      .toDF("theta", "test_f1", "test_precision", "test_recall",
        "tp", "fp", "fn", "n_candidate_pairs", "n_records", "n_clusters")

    Outputs(keyed, candidates, scored, theta, edges, clusters,
      testMetrics, summary)
  }

  /** Flagship entry: summary row (driver smoke-checks rows > 0). */
  def summary(spark: SparkSession, sfDir: String): DataFrame =
    run(spark, sfDir).summary
}
