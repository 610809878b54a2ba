package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sim.Embed

/**
 * Approximate-nearest-neighbor search over the `embeddings` table
 * (vec_id, embedding: array<float>, label).
 *
 * - [[bruteTopK]]: exact baseline — broadcast the query vectors, one
 *   `mapPartitions` pass over the corpus (never a shuffled cross
 *   join), per-query top-k via window. This is the scale shape: the
 *   corpus streams, queries are the small broadcast side.
 * - [[lshTopK]]: random-hyperplane LSH — sign-bit signatures over a
 *   broadcast seeded hyperplane matrix, bucket equi-join, exact rerank
 *   within buckets (multi-probe via 2 signature permutations).
 * - [[ivfTopK]]: IVF — per-label centroids (k=|labels| coarse
 *   quantizer), probe the 2 nearest centroids, exact rerank inside.
 */
object Ann {

  case class Vec(vec_id: Long, embedding: Array[Float])

  private def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Scan.parquet(spark, s"$sfDir/embeddings.parquet")

  private def typedVecs(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    embeddings(spark, sfDir).select(col("vec_id"), col("embedding")).as[Vec]
  }

  /**
   * The `k` best neighbors of each query in `scored` (query_id,
   * neighbor_id, cos) as (query_id, rank, neighbor_id). Ranked on the
   * micro-unit-rounded cosine, ties by neighbor_id: the oracle computes
   * cosine with a different kernel (DuckDB list_cosine_similarity), and
   * ranking raw doubles would let a one-ulp divergence between
   * near-equal values flip ranks and fail the exact compare.
   */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_micros").desc, col("neighbor_id").asc)
    scored
      .withColumn("cos_micros", round(col("cos") * 1000000.0).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Exact top-k cosine neighbors for queries (vec_id < nQueries). */
  def bruteTopK(spark: SparkSession, sfDir: String,
                nQueries: Int = 50, k: Int = 3): DataFrame = {
    import spark.implicits._
    val vecs = typedVecs(spark, sfDir)
    val queries = spark.sparkContext.broadcast(
      vecs.filter(col("vec_id") < nQueries).collect())
    val scored = vecs.mapPartitions { it =>
      val qs = queries.value
      it.flatMap { v =>
        qs.iterator.filter(_.vec_id != v.vec_id).map { q =>
          (q.vec_id, v.vec_id, Embed.cosine(q.embedding, v.embedding))
        }
      }
    }.toDF("query_id", "neighbor_id", "cos")
    topK(scored, k)
  }

  final val LshTables = 16
  final val TargetBucket = 32

  /**
   * Signature width sized to the corpus: ~n/targetBucket buckets per
   * table, so buckets stay O(targetBucket) as n grows (sub-linear
   * per-query candidate cost) while few enough bits that true
   * neighbors still collide. Round 2 shipped a fixed 12 bits — 4,096
   * buckets for a 500-vector corpus made nearly every bucket a
   * singleton (~9% recall); width must follow the data.
   */
  private[graft] def lshBits(n: Long, targetBucket: Int = TargetBucket): Int = {
    // smallest b >= 3 with 2^b buckets of ~targetBucket covering n —
    // INTEGER arithmetic, not ceil(log2(...)): at exact powers of two a
    // one-ulp difference between two engines' log kernels would flip
    // the width, and the DuckDB oracle recomputes this same bound
    var b = 3
    while ((1L << b) * targetBucket < n && b < 30) b += 1
    b
  }

  /**
   * Deterministic hyperplane component in [-1, 1): FNV-1a mix of
   * (table, bit) with the dimension index, top 53 bits mapped to a
   * uniform double, truncated to float. Seeded-hash instead of
   * `java.util.Random` so the DuckDB oracle replays the exact planes
   * (same fnvMix already replayed in SQL for the negative samplers).
   */
  private[graft] def planeComponent(t: Int, b: Int, i: Int): Float = {
    val h = graft.sim.NegativeSampler.fnvMix(t.toLong * 4099L + b.toLong, i.toLong)
    ((h >>> 11).toDouble / 9007199254740992.0 * 2.0 - 1.0).toFloat
  }

  /** Sign-bit signature of v under `planes` (bits x dim). */
  def signature(v: Array[Float], planes: Array[Array[Float]]): Int = {
    var sig = 0
    var b = 0
    while (b < planes.length) {
      var dot = 0.0
      val p = planes(b)
      var i = 0
      while (i < v.length) { dot += p(i).toDouble * v(i); i += 1 }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /**
   * LSH ANN: bucket by hyperplane signature ([[LshTables]] independent
   * tables — recall at moderate-cosine neighbors comes from many
   * narrow tables, 1-(1-p^bits)^tables), exact cosine rerank within
   * candidate buckets. Per-table bucket width stays O([[TargetBucket]])
   * at any corpus size, so per-query candidate work is
   * O(tables x targetBucket), sub-linear in n.
   */
  def lshTopK(spark: SparkSession, sfDir: String,
              nQueries: Int = 50, k: Int = 3,
              tables: Int = LshTables): DataFrame = {
    import spark.implicits._
    val dim = 64
    val vecs = typedVecs(spark, sfDir)
    val bits = lshBits(vecs.count())
    val planes = spark.sparkContext.broadcast(Array.tabulate(tables) { t =>
      Array.tabulate(bits)(b => Array.tabulate(dim)(i => planeComponent(t, b, i)))
    })
    val bucketed = vecs.mapPartitions { it =>
      val ps = planes.value
      it.flatMap { v =>
        ps.iterator.zipWithIndex.map { case (p, t) =>
          (v.vec_id, v.embedding, t, signature(v.embedding, p))
        }
      }
    }.toDF("vec_id", "embedding", "table", "sig")
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table"), col("sig"))
    // corpus side shuffled-hash: it grows with the data (the query
    // side is the bounded one, but the JOIN keys are the buckets).
    // The cross-table DEDUP exchanges BARE ID PAIRS — a pair collides
    // in up to `tables` buckets, and shuffling its two dim-wide
    // vectors once per collision made the distinct the widest exchange
    // of the query; embeddings are re-attached AFTER dedup (query side
    // broadcast — it is bounded; corpus side one hash join).
    val candIds = q
      .join(bucketed.select(col("table"), col("sig"), col("vec_id"))
        .hint("shuffle_hash"), Seq("table", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val emb = vecs.toDF().select(col("vec_id"), col("embedding"))
    val cands = candIds
      .join(broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv")), "neighbor_id")
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("nv"))
    import spark.implicits._
    val scored = cands
      .as[(Long, Array[Float], Long, Array[Float])]
      .mapPartitions(_.map { case (qid, qv, nid, nv) =>
        (qid, nid, Embed.cosine(qv, nv))
      }).toDF("query_id", "neighbor_id", "cos")
    topK(scored, k)
  }

  /**
   * IVF ANN: coarse-quantize by per-label centroid (deterministic —
   * centroids are data means, no trained k-means needed for the
   * operator shape), probe the 2 nearest centroids, exact rerank.
   */
  def ivfTopK(spark: SparkSession, sfDir: String,
              nQueries: Int = 50, k: Int = 3, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    val e = embeddings(spark, sfDir)
    val dim = 64
    // centroid per label: element-wise mean
    val cents = e.select(col("label"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg("x").as("m"))
      .groupBy("label").agg(array_sort(collect_list(struct(col("pos"), col("m"))))
        .as("sm"))
      .select(col("label"), transform(col("sm"), s => s.getField("m")).as("centroid"))
      // centroids stay DOUBLE: truncating to float would diverge from
      // the oracle's double-precision means at the 1e-7 level, enough
      // to flip a micro-rounded probe comparison
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    val centB = spark.sparkContext.broadcast(cents)
    val vecs = typedVecs(spark, sfDir)
    val queries = spark.sparkContext.broadcast(
      vecs.filter(col("vec_id") < nQueries).collect())
    // per query: the nProbe closest centroids — compared on
    // micro-rounded cosine so the DuckDB oracle's probe choice (its
    // own summation order) agrees bit-for-bit
    def cosineFD(a: Array[Float], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i) * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val probes = queries.value.map { q =>
      val byDist = centB.value.map { case (l, c) =>
        (l, math.round(cosineFD(q.embedding, c) * 1000000))
      }.sortBy { case (l, c) => (-c, l) }.take(nProbe).map(_._1).toSet
      (q.vec_id, byDist)
    }.toMap
    val probesB = spark.sparkContext.broadcast(probes)
    val labeled = e.select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
    val scored = labeled.mapPartitions { it =>
      val qs = queries.value
      val pr = probesB.value
      it.flatMap { case (vid, v, lbl) =>
        qs.iterator
          .filter(q => q.vec_id != vid && pr(q.vec_id).contains(lbl))
          .map(q => (q.vec_id, vid, Embed.cosine(q.embedding, v)))
      }
    }.toDF("query_id", "neighbor_id", "cos")
    topK(scored, k)
  }
}
