package graft

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.gen.Synth
import graft.pipe.{Blocking, Splits, Threshold}

/**
 * Shared stage builders for [[SparkEntry.queries]]: the
 * oracle-checkable (column-expression) variant of the pipeline. The
 * `mapPartitions` scorer path lives in [[graft.sim.Scorer]] and is
 * asserted equal to this path in the test suite.
 */
object EntryStages {

  // `SparkEntry.queries` entries are independent functions; within one
  // JVM/driver run they share these memoized, persisted stages so the
  // verify harness doesn't recompute the scoring chain per query.
  // Keyed on (identity, applicationId): a recycled identity hash of a
  // GC'd session always belongs to a NEW SparkContext (fresh app id),
  // so a collision can never serve DataFrames bound to a dead context.
  private[graft] def sessionKey(spark: SparkSession): String =
    s"${System.identityHashCode(spark)}:${spark.sparkContext.applicationId}"

  /** Shared memoization hook for other stage builders (GraphBuild). */
  private[graft] def memo(spark: SparkSession, sfDir: String, name: String)
                         (f: => DataFrame): DataFrame =
    cached(spark, sfDir, name)(f)

  /** Once-only cell: TrieMap.getOrElseUpdate may evaluate its default
    * more than once under a race (it computes, then putIfAbsent); the
    * verify harness submits queries from a thread pool, and a raced
    * duplicate here would re-run a multi-second training fit or theta
    * sweep (and leak a persisted duplicate DataFrame). The map stores
    * the cheap cell; the lazy val inside guarantees one evaluation. */
  private final class Once[T](f: () => T) { lazy val value: T = f() }

  /** Every memoized value — persisted DataFrames, trained models and
    * thetas — one cell per (session, sfDir, kind-prefixed name); the
    * `df:`/`model:`/`theta:` prefix keeps a name of one kind from ever
    * serving a value of another. */
  private val cells =
    scala.collection.concurrent.TrieMap[(String, String, String), Once[AnyRef]]()
  private val evictionHooked =
    scala.collection.concurrent.TrieMap[String, Unit]()

  /**
   * sessionKey + a one-time per-session eviction hook: when the
   * session's SparkContext ends, every cache entry keyed to it is
   * dropped — Bench creates three sessions per JVM, and entries bound
   * to dead contexts (persisted DataFrames, trained models) would
   * otherwise accumulate for the JVM's lifetime.
   */
  private def withEviction(spark: SparkSession): String = {
    val key = sessionKey(spark)
    evictionHooked.getOrElseUpdate(key, {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            cells.filterInPlace { case ((k, _, _), _) => k != key }
            evictionHooked.remove(key)
            ()
          }
        })
      ()
    })
    key
  }

  private def once[T <: AnyRef](spark: SparkSession, sfDir: String,
                                name: String)(f: => T): T =
    cells.getOrElseUpdate((withEviction(spark), sfDir, name),
      new Once[AnyRef](() => f)).value.asInstanceOf[T]

  private def cached(spark: SparkSession, sfDir: String, name: String)
                    (f: => DataFrame): DataFrame =
    once(spark, sfDir, s"df:$name")(f.persist())

  /**
   * Train-once memo for model objects (the reference freezes and
   * restores trained embeddings via TF Saver so downstream experiments
   * reuse one fit — /root/reference/werl.py:364-374; here the verify
   * harness's queries share one in-session fit per (session, sfDir,
   * config) the same way).
   */
  private[graft] def memoModel[T <: AnyRef](spark: SparkSession, sfDir: String,
                                            name: String)(f: => T): T =
    once(spark, sfDir, s"model:$name")(f)

  private def memoTheta(spark: SparkSession, sfDir: String, name: String)
                       (f: => Double): Double =
    once(spark, sfDir, s"theta:$name")(Double.box(f)).doubleValue

  def records(spark: SparkSession, sfDir: String): DataFrame =
    Synth.records(spark, sfDir)

  def keyed(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "keyed") {
      Pipeline.keyRecords(records(spark, sfDir))
    }

  // cached like keyed/scoredp: ~15 verify-surface queries re-derived
  // the salted blocking join per call otherwise (the hot-key agg + the
  // widest exchange of the session, once per caller)
  def cand(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "cand") {
      Blocking.candidates(keyed(spark, sfDir))
    }

  /**
   * Portable per-pair features: Jaro-Winkler via the custom Catalyst
   * expression (whole-stage codegen), Levenshtein via Spark's built-in,
   * normalized by max length (SURVEY.md §2.10).
   */
  def feats(spark: SparkSession, sfDir: String): DataFrame =
    cand(spark, sfDir)
      .withColumn("jw",
        GraftFunctions.jaro_winkler(col("content_a"), col("content_b")))
      // graft_levenshtein = the Myers-kernel exact distance (identical
      // integers to Spark's built-in two-row DP, ~20x cheaper on the
      // ~250-char near-dup contents) — scoredp feeds ~10 queries, so
      // this is the verify surface's hottest expression
      .withColumn("lev",
        lit(1.0) - GraftFunctions.graft_levenshtein(
          col("content_a"), col("content_b")) /
          greatest(length(col("content_a")), length(col("content_b"))))
      .withColumn("label", (col("dni_a") === col("dni_b")).cast("long"))

  /** Adds the portable combined distance 1 - (0.4*jw + 0.6*lev). */
  def scoredp(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "scoredp") {
      feats(spark, sfDir).withColumn("dist",
        lit(1.0) - (lit(0.4) * col("jw") + lit(0.6) * col("lev")))
    }

  /** [[SparkEntry]]'s name for [[Splits.test]]. */
  def testPairs(df: DataFrame): DataFrame = Splits.test(df)

  def sweep(spark: SparkSession, sfDir: String): DataFrame =
    Threshold.sweep(Splits.train(scoredp(spark, sfDir)), col("dist"), col("label"))

  def bestRow(spark: SparkSession, sfDir: String): DataFrame =
    Threshold.best(Splits.train(scoredp(spark, sfDir)), col("dist"), col("label"))

  def theta(spark: SparkSession, sfDir: String): Double =
    memoTheta(spark, sfDir, "argmax") {
      Threshold.bestTheta(Splits.train(scoredp(spark, sfDir)),
        col("dist"), col("label"))
    }

  def thetaRobust(spark: SparkSession, sfDir: String): Double =
    memoTheta(spark, sfDir, "robust") {
      Splits.theta(scoredp(spark, sfDir), col("dist"), col("label"))
    }

  def matchEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val t = theta(spark, sfDir)
    scoredp(spark, sfDir).filter(col("dist") <= t)
      .select(col("idA").as("src"), col("idB").as("dst"), col("dist"))
  }

  def pairMetricsAtTheta(spark: SparkSession, sfDir: String): DataFrame =
    Splits.testMetrics(scoredp(spark, sfDir), col("dist"), col("label"),
      theta(spark, sfDir))

  def mutualNn(spark: SparkSession, sfDir: String, beta: Int = 100): DataFrame =
    graft.ops.Seea.mutualBest(Splits.test(scoredp(spark, sfDir)), beta)
      .select("idA", "idB", "dist")

  def topkFn(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    topk(spark, sfDir, k)(t => col("label") === 1 && col("dist") > t)

  def topkFp(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame =
    topk(spark, sfDir, k)(t => col("label") === 0 && col("dist") <= t)

  /** The `k` closest pairs at theta that `miss` selects. */
  private def topk(spark: SparkSession, sfDir: String, k: Int)
                  (miss: Double => Column): DataFrame =
    scoredp(spark, sfDir).filter(miss(theta(spark, sfDir)))
      .select("idA", "idB", "dist")
      .orderBy(col("dist").asc, col("idA").asc, col("idB").asc)
      .limit(k)

  def blockingStats(spark: SparkSession, sfDir: String): DataFrame =
    cand(spark, sfDir).groupBy("block_key").agg(
      countDistinct("idA").as("n_a"),
      countDistinct("idB").as("n_b"),
      count(lit(1)).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("block_key").asc)
      .limit(20)

  /**
   * North-rule resumability surface, driver-visible: runs the flagship
   * pipeline through per-stage Parquet checkpoints (lineage columns
   * `_stage/_run_id/_part_id/_input_fingerprint` in the data, sidecar
   * meta with row count + wall time) and emits each stage's RECORDED
   * row count — the oracle recomputes the same counts from SQL, so a
   * checkpoint that dropped or duplicated rows cannot hash-match.
   * The root is per-application (a driver run always computes fresh)
   * and is deleted once the metas are read; the rows are memoized. The
   * mid-pipeline skip/recompute contract itself is proven by
   * [[graft.PipelineResumeSpec]].
   */
  def ckptLineage(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val rows = memoModel(spark, sfDir, "ckptLineage") {
      val root = ckptLineageRoot(spark, sfDir)
      try {
        Pipeline.run(spark, sfDir, Some(root.toString)).scored.unpersist()
        Seq("keyed", "candidates", "scored", "clusters").flatMap { st =>
          graft.ckpt.Checkpoint.meta(root.toString, st).map(m => (st, m("rows").toLong))
        }
      } finally graft.ckpt.Checkpoint.deleteTree(root)
    }
    rows.toDF("stage", "n_rows").orderBy("stage")
  }

  private[graft] def ckptLineageRoot(spark: SparkSession, sfDir: String): Path =
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-ckpt-${spark.sparkContext.applicationId}-" +
        graft.ckpt.Checkpoint.fingerprint(sfDir))

  def harmonizeLang(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dim = Seq(("scala", "jvm"), ("java", "jvm"), ("python", "script"),
      ("rust", "native"), ("go", "native")).toDF("lang", "family")
    records(spark, sfDir).join(broadcast(dim), "lang")
      .groupBy("family").agg(count(lit(1)).as("n"))
  }
}
