package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.functions.StringSim

/** A candidate pair with both payloads (input to the scorer). */
case class CandPair(
    idA: Long, idB: Long, block_key: String,
    content_a: String, content_b: String,
    dni_a: Long, dni_b: Long, split_a: String, split_b: String)

/** A fully scored pair (output of the scorer). */
case class ScoredPair(
    idA: Long, idB: Long, jw: Double, lev: Double, cos: Double,
    score: Double, label: Int, split_a: String, split_b: String)

/**
 * Batched pairwise scorer: Jaro-Winkler + normalized Levenshtein +
 * embedding cosine, computed in ONE `mapPartitions` pass over the
 * candidate-pair Dataset with the projection matrix broadcast to
 * executors — the north-rule shape, mirroring the reference's
 * per-candidate cosine scoring over a pulled embedding matrix
 * (/root/reference/tests/er/test_transe.py:46-51,
 * /root/reference/tests/test_census_rl.py:63-103).
 *
 * Exact-match short-circuit: equal normalized contents score 1.0
 * without computing JW/Levenshtein/cosine, as the reference
 * short-circuits equal values (/root/reference/tests/test_census_rl.py:73-76).
 *
 * Per-partition embedding cache: within a block, each record's content
 * appears in many pairs; vectors are memoized per partition so hot
 * (salted) blocks don't recompute trigram hashes per pair. The memo is
 * keyed on (side, record id), so the A and B id spaces may overlap.
 */
object Scorer {

  /** Flagship combined score in [0,1]; weights fixed, deterministic. */
  final val WJw = 0.3
  final val WLev = 0.4
  final val WCos = 0.3

  /**
   * JIT warm of the scorer kernels, driver-side, over SYNTHETIC
   * in-memory strings: never input data, and nothing is kept. The C2
   * compiler needs ~10-20k invocations before the JW/Myers/trigram
   * loops run at steady state; without a warm, the first timed scoring
   * pass pays tens of seconds of interpreter/C1 execution. local[n]
   * executors share the driver JVM, so a driver-side warm compiles the
   * very methods the scoring tasks run. Called by
   * [[graft.Pipeline.warm]] only.
   */
  private[graft] def warmKernels(): Unit = {
    val base = "fn c4129 mango open 2 high quark val 70583 k 4129 " +
      "alpha anvil 8467 bravo basil 25189 cedar cobra 41911 delta " +
      "dwell 58633 ember eagle 75355 futon fable 92077 gamma gusto 8799"
    val variants = Array(
      base,
      base.replace(" val ", " value "),
      base.substring(3) + " tail",
      "fn c0 done zebra k 977")
    val mat = Embed.projection()
    var sink = 0.0
    var i = 0
    while (i < 6000) {
      val a = variants(i & 3)
      val b = variants((i + 1) & 3)
      sink += StringSim.jaroWinkler(a, b) + StringSim.levSim(a, b) +
        Embed.cosine(Embed.vector(a, mat), Embed.vector(b, mat))
      i += 1
    }
    // keep `sink` observable so the warm loop cannot be eliminated
    if (java.lang.Double.isNaN(sink)) throw new IllegalStateException("warm")
  }

  def score(
      pairs: Dataset[CandPair],
      proj: Broadcast[Array[Array[Double]]]): Dataset[ScoredPair] = {
    import pairs.sparkSession.implicits._
    pairs.mapPartitions { it =>
      val mat = proj.value
      // record vectors memoized per partition, keyed by side and record
      // id (`id << 1 | side`: an id is unique within its side only) — a
      // long key skips rehashing the ~250-char content per lookup
      val cache = new java.util.HashMap[java.lang.Long, Array[Double]](1 << 12)
      def vec(side: Int, id: Long, s: String): Array[Double] = {
        val k = java.lang.Long.valueOf(id << 1 | side)
        var v = cache.get(k)
        if (v == null) {
          v = Embed.vector(s, mat)
          if (cache.size < (1 << 16)) cache.put(k, v)
        }
        v
      }
      it.map { p =>
        val label = if (p.dni_a == p.dni_b) 1 else 0
        if (p.content_a == p.content_b) {
          ScoredPair(p.idA, p.idB, 1.0, 1.0, 1.0, 1.0, label, p.split_a, p.split_b)
        } else {
          val jw = StringSim.jaroWinkler(p.content_a, p.content_b)
          val lev = StringSim.levSim(p.content_a, p.content_b)
          val cos = Embed.cosine(vec(0, p.idA, p.content_a), vec(1, p.idB, p.content_b))
          val s = WJw * jw + WLev * lev + WCos * cos
          ScoredPair(p.idA, p.idB, jw, lev, cos, s, label, p.split_a, p.split_b)
        }
      }
    }
  }

  /** DataFrame convenience over [[Blocking.candidates]] output. */
  def scoreDF(candidates: DataFrame,
              proj: Broadcast[Array[Array[Double]]]): DataFrame = {
    import candidates.sparkSession.implicits._
    score(candidates.selectExpr(
      "idA", "idB", "block_key", "content_a", "content_b",
      "dni_a", "dni_b", "split_a", "split_b").as[CandPair], proj).toDF()
  }

  def broadcastProjection(spark: SparkSession): Broadcast[Array[Array[Double]]] =
    spark.sparkContext.broadcast(Embed.projection())
}
