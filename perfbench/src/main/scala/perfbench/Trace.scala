package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ckpt.Checkpoint
import graft.eval.Metrics
import graft.functions.StringSim
import graft.gen.Synth
import graft.pipe.{Blocking, Cluster, Normalize, Threshold}
import graft.sim.{Embed, Scorer}

/**
 * The traced run: the stages of `Pipeline.run`, called one layer at a
 * time from here, each inside a span. A [[Listener]] attributes every
 * Spark job (and its tasks, task time, shuffle and spill) to the span
 * whose thread submitted it, through a job-local property.
 *
 * Each layer's output is persisted and counted inside its own span, so
 * a span holds that layer's work and nothing downstream. The summary
 * row this composition builds must equal `Pipeline.run`'s on the same
 * input; run.py counts a mismatch as a failure, so this copy of the
 * stage graph cannot drift from the program's.
 *
 * The ER signals and the kernel timings come from extra jobs after the
 * traced job, outside every span.
 */
object Trace {

  private val SpanKey = "perfbench.span"
  private val Untraced = "untraced"

  final class Counters {
    var jobs = 0
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  /** Fed on the listener bus thread; read [[counters]] after [[Bus.drain]]. */
  final class Listener extends SparkListener {
    private val stageSpan = mutable.HashMap[Int, String]()
    private val bySpan = mutable.HashMap[String, Counters]()

    def counters(span: String): Counters =
      synchronized(bySpan.getOrElseUpdate(span, new Counters))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse(Untraced)
      counters(span).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = counters(stageSpan.getOrElse(e.stageId, Untraced))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  final case class Span(name: String, wallS: Double, gcS: Double)

  /** GC time of the whole JVM: in local mode every task shares it. */
  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  final class Tracer(spark: SparkSession) {
    val spans = ArrayBuffer[Span]()

    def apply[T](name: String)(f: => T): T = {
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, name)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        spans += Span(name, Main.secondsSince(t0), (gcMillis() - gc0) / 1e3)
        sc.setLocalProperty(SpanKey, null)
      }
    }
  }

  private val dist = lit(1.0) - col("score")
  private def bothIn(split: String) =
    col("split_a") === split && col("split_b") === split

  final case class Traced(
      summary: Map[String, Any], keyed: DataFrame, candidates: DataFrame,
      scored: DataFrame, edges: DataFrame, clusters: DataFrame,
      ckpt: Map[String, Any])

  /**
   * `Pipeline.run(spark, dir, ckptRoot)`, one layer per span. With a
   * checkpoint root the `Checkpoint` span writes the four stages
   * `Pipeline.run` checkpoints and reads each back, from frames that
   * are already materialized, so it holds write plus read-back only.
   */
  def composition(spark: SparkSession, dir: String, ckptRoot: Option[String],
                  span: Tracer, salts: Int = 64): Traced = {
    val (keyed, nRecords) = span("Synth") {
      val k = Blocking.withBlockKey(Normalize(Synth.records(spark, dir))).persist()
      (k, k.count())
    }
    val (candidates, nCandidates) = span("Blocking") {
      val c = Blocking.candidates(keyed, salts).persist()
      (c, c.count())
    }
    val (scored, nPairs) = span("Scorer") {
      val s = Scorer.scoreDF(candidates, Scorer.broadcastProjection(spark)).persist()
      (s, s.count())
    }
    val theta = span("Threshold") {
      Threshold.bestThetaRobust(scored.filter(bothIn("train")), dist, col("label"))
    }
    val edges = scored.filter(dist <= theta)
      .select(col("idA").as("src"), col("idB").as("dst"))
    val (clusters, nClusters) = span("Cluster") {
      val c = Cluster.assign(keyed.select("id"), edges).persist()
      (c, c.select(countDistinct("cluster")).head().getLong(0))
    }
    val m = span("Metrics") {
      Metrics.pairMetrics(scored.filter(bothIn("test")),
        (dist <= theta).cast("int"), col("label")).head()
    }
    val ckpt = ckptRoot.map { root =>
      // clusters holds one row per record
      val frames = Seq(("keyed", keyed, nRecords), ("candidates", candidates, nCandidates),
        ("scored", scored, nPairs), ("clusters", clusters, nRecords))
      val fp = Checkpoint.fingerprint(dir, "perfbench")
      Main.deleteTree(root)
      val (writeS, readS, readBack) = span("Checkpoint") {
        val tw = System.nanoTime()
        frames.foreach { case (name, df, _) => Checkpoint.stage(spark, root, name, fp)(df) }
        val writeS = Main.secondsSince(tw)
        val tr = System.nanoTime()
        val readBack = frames.map { case (name, df, _) =>
          val r = Checkpoint.stage(spark, root, name, fp)(df)
          require(r.fromCache, s"checkpoint $name was not resumed")
          r.df.count()
        }
        (writeS, Main.secondsSince(tr), readBack)
      }
      Main.deleteTree(root)
      require(readBack == frames.map(_._3),
        "checkpoint read-back row counts differ from the frames written")
      Map("write_s" -> writeS, "read_s" -> readS)
    }.getOrElse(Map("write_s" -> 0.0, "read_s" -> 0.0))
    val summary = Map[String, Any](
      "theta" -> theta, "test_f1" -> m.getAs[Double]("f1"),
      "test_precision" -> m.getAs[Double]("precision"),
      "test_recall" -> m.getAs[Double]("recall"),
      "tp" -> m.getAs[Long]("tp"), "fp" -> m.getAs[Long]("fp"),
      "fn" -> m.getAs[Long]("fn"), "n_candidate_pairs" -> nPairs,
      "n_records" -> nRecords, "n_clusters" -> nClusters)
    Traced(summary, keyed, candidates, scored, edges, clusters, ckpt)
  }

  /** Entity-resolution signals, computed from outside with extra jobs. */
  private def signals(t: Traced, hotThreshold: Int = 500): Map[String, Any] = {
    val side = t.keyed.groupBy("block_key").agg(
      sum(when(col("side") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("side") === "B", 1L).otherwise(0L)).as("nb"))
    val blocks = side.agg(
      sum("na").as("a"), sum("nb").as("b"),
      max(col("na") * col("nb")).as("max_block"),
      sum(when(col("na") >= hotThreshold, 1L).otherwise(0L)).as("hot")).head()
    val pairs = t.candidates.count()
    val ids = t.keyed.select("side", "dni")
    val truth = ids.filter(col("side") === "A").select("dni")
      .intersect(ids.filter(col("side") === "B").select("dni")).count()
    val found = t.candidates.filter(col("dni_a") === col("dni_b")).count()
    val exact = t.candidates.filter(col("content_a") === col("content_b")).count()
    val maxComponent = t.clusters.groupBy("cluster").count()
      .agg(max("count")).head().getLong(0)
    val buckets = Threshold.sweep(t.scored.filter(bothIn("train")), dist, col("label"))
      .count()
    val all = blocks.getLong(0).toDouble * blocks.getLong(1)
    Map(
      "pairs" -> pairs,
      "reduction_ratio" -> (1.0 - pairs / all),
      "pair_completeness" -> found.toDouble / truth,
      "max_block_share" -> blocks.getLong(2).toDouble / pairs,
      "hot_keys" -> blocks.getLong(3),
      "exact_ratio" -> exact.toDouble / pairs,
      "buckets" -> buckets,
      "edges" -> t.edges.count(),
      "max_component" -> maxComponent)
  }

  /**
   * Single-thread kernel timings on non-identical candidate contents
   * (identical ones short-circuit in the scorer). The scoring jobs
   * before have already run the kernels through C2; a short warm-up
   * settles the sample's own call sites. Each figure is the median of
   * seven timed passes.
   */
  private def kernels(t: Traced, seed: Long, n: Int = 256): Map[String, Any] = {
    val sample = t.candidates.filter(col("content_a") =!= col("content_b"))
      .select(col("content_a"), col("content_b"),
        xxhash64(col("idA"), col("idB"), lit(seed)).as("h"))
      .orderBy("h").limit(n).collect()
      .map(r => (r.getString(0), r.getString(1)))
    require(sample.nonEmpty, "no non-identical candidate pairs to time")
    val mat = Embed.projection()
    val vecs = sample.map { case (a, b) => (Embed.vector(a, mat), Embed.vector(b, mat)) }
    var sink = 0.0
    def timed(pass: => Double): Double = {
      val warmEnd = System.nanoTime() + 500000000L
      while (System.nanoTime() < warmEnd) sink += pass
      val ns = (1 to 7).map { _ =>
        val t0 = System.nanoTime()
        var calls = 0
        while (System.nanoTime() - t0 < 60000000L) { sink += pass; calls += sample.length }
        (System.nanoTime() - t0).toDouble / calls
      }.sorted
      ns(ns.size / 2)
    }
    val out = Map(
      "jw_ns" -> timed(sample.map { case (a, b) => StringSim.jaroWinkler(a, b) }.sum),
      "lev_ns" -> timed(sample.map { case (a, b) => StringSim.levSim(a, b) }.sum),
      "vector_ns" -> timed(sample.map { case (a, _) => Embed.vector(a, mat)(0) }.sum),
      "cosine_ns" -> timed(vecs.map { case (a, b) => Embed.cosine(a, b) }.sum))
    if (sink.isNaN) sys.error("kernel sink")
    out
  }

  /**
   * The trace mode: one untraced job as in the `run` mode (its wall
   * time is the reference for the tracing overhead, its summary the
   * reference for the traced one), the traced job, then the signals
   * and the kernels.
   */
  def run(spark: SparkSession, o: Map[String, String]): Map[String, Any] = {
    val dir = o("inputs").split(",").head
    val ckpt = o.get("ckpt")
    val untraced = Main.job(spark, dir, ckpt)
    val listener = new Listener
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val span = new Tracer(spark)
    val t0 = System.nanoTime()
    val traced = composition(spark, dir, ckpt, span)
    val tracedWall = Main.secondsSince(t0)
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    val spans = span.spans.map { s =>
      val c = listener.counters(s.name)
      Map("name" -> s.name, "wall_s" -> s.wallS, "gc_s" -> s.gcS,
        "task_s" -> c.taskMs / 1e3, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "shuffle_bytes" -> c.shuffleBytes, "spill_bytes" -> c.spillBytes)
    }
    val out = Map(
      "untraced" -> untraced,
      "traced_wall_s" -> tracedWall,
      "traced_summary" -> traced.summary,
      "spans" -> spans.toSeq,
      "ckpt" -> traced.ckpt,
      "signals" -> signals(traced),
      "kernels" -> kernels(traced, o("seed").toLong))
    Seq(traced.keyed, traced.candidates, traced.scored, traced.clusters)
      .foreach(_.unpersist(true))
    out
  }
}
