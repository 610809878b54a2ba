package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.Embed

/**
 * Deduplication operators for a training-data pipeline over the
 * `documents` table: exact (hash groupBy), token-shingle Jaccard,
 * MinHash+LSH (banded), SimHash, and embedding-cosine near-dup.
 *
 * Scale notes: exact dedup is one shuffle on the content hash;
 * Jaccard/MinHash candidate generation is an inverted-index-style
 * equi-join on shingle / band keys (never an all-pairs product);
 * SimHash buckets by 16-bit bands so hamming<=k survives at least one
 * exact band match.
 */
object Dedup {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.documents(spark, sfDir)

  private def normText: Column =
    lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** Exact dedup: md5 of normalized text; canonical = min doc_id. */
  def exact(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir).select(col("doc_id"), md5(normText).as("fp"))
    val groups = d.groupBy("fp").agg(
      count(lit(1)).as("group_size"), min("doc_id").as("canonical_id"))
    d.join(groups, "fp")
      .select(col("doc_id"), col("fp"), col("group_size"),
        col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("long").as("is_canonical"))
  }

  /**
   * Document-frequency cap: shingles present in more than this many
   * docs are boilerplate and are dropped from the similarity universe —
   * a shingle shared by D docs emits D^2 rows in the inverted-index
   * self-join, so an uncapped header/license shingle is quadratic death
   * at web scale. Standard near-dup practice; [[shingleDfStats]]
   * reports how many shingles the cap dropped.
   */
  final val ShingleDfCap = 100

  /** Distinct 3-token shingle md5s per doc, uncapped: (doc_id, shingle). */
  private def shinglesAll(spark: SparkSession, sfDir: String): DataFrame = {
    val t = split(normText, " ")
    val n = greatest(size(t) - 2, lit(1))
    docs(spark, sfDir).select(
      col("doc_id"),
      explode(array_distinct(transform(sequence(lit(1), n),
        i => md5(concat_ws(" ", slice(t, i, lit(3))))))).as("shingle"))
  }

  /** Shingles with document frequency <= dfCap (the similarity universe). */
  private def shingles(spark: SparkSession, sfDir: String,
                       dfCap: Int = ShingleDfCap): DataFrame = {
    val sh = shinglesAll(spark, sfDir)
    val keep = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("shingle")
    sh.join(keep, "shingle").select("doc_id", "shingle")
  }

  /** One-row report of what the df cap dropped (driver-visible audit). */
  def shingleDfStats(spark: SparkSession, sfDir: String,
                     dfCap: Int = ShingleDfCap): DataFrame =
    shinglesAll(spark, sfDir).groupBy("shingle")
      .agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("df") > dfCap).cast("long")).as("n_dropped"),
        max("df").as("max_df"))
      .withColumn("df_cap", lit(dfCap.toLong))

  /**
   * Top-20 most similar doc pairs by exact 3-token-shingle Jaccard,
   * candidates generated by the shingle inverted index (docs sharing
   * at least one shingle) over the df-capped shingle universe, never
   * a cross join.
   */
  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("s1").join(sh.as("s2"), "shingle")
      .filter(col("s1.doc_id") < col("s2.doc_id"))
      .groupBy(col("s1.doc_id").as("doc1"), col("s2.doc_id").as("doc2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc1"), col("n_sh").as("n1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("n_sh").as("n2")), "doc2")
      .select(col("doc1"), col("doc2"),
        (col("inter") / (col("n1") + col("n2") - col("inter"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc1").asc, col("doc2").asc)
      .limit(20)
  }

  final val MinHashK = 8
  final val LshBands = 4 // 2 hashes per band

  /**
   * MinHash signatures + banded LSH: signature h_s = min md5('s:' ++
   * shingle); band key = md5(h_{2b} || h_{2b+1}). Candidates share a
   * band bucket; verified with exact shingle Jaccard. Returns the
   * top-20 verified candidates.
   *
   * Scale shape: the exact-intersection join is SEEDED FROM THE LSH
   * CANDIDATE SET (cands -> shingles on doc1 -> match on (doc2,
   * shingle)), so verification work is O(|candidates| x shingles/doc),
   * never the full quadratic co-shingle table the plain
   * [[ngramJaccard]] pays.
   */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashScored(spark, sfDir)
      .orderBy(col("jaccard").desc, col("doc1").asc, col("doc2").asc)
      .limit(20)

  /** Every banded-LSH candidate pair with its exact verified shingle
    * Jaccard (the unlimited set behind [[minhashLsh]]'s top-20 view
    * and [[dedupClusters]]'s edge set). */
  private[graft] def minhashScored(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    val sh = shingles(spark, sfDir)
    val seeded = sh.select(col("doc_id"),
      explode(sequence(lit(0), lit(MinHashK - 1))).as("seed"), col("shingle"))
    val sig = seeded.groupBy("doc_id", "seed")
      .agg(min(md5(concat(col("seed").cast("string"), lit(":"), col("shingle"))))
        .as("mh"))
    val bands = sig
      .withColumn("band", (col("seed") / 2).cast("int"))
      .groupBy("doc_id", "band")
      // two hashes per band, concatenated in seed order
      .agg(md5(concat_ws("|", sort_array(collect_list(
        concat(col("seed").cast("string"), lit("="), col("mh")))))).as("band_key"))
    val cands = bands.as("b1").join(bands.as("b2"), Seq("band", "band_key"))
      .filter(col("b1.doc_id") < col("b2.doc_id"))
      .select(col("b1.doc_id").as("doc1"), col("b2.doc_id").as("doc2"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = candidateIntersections(cands, sh)
    cands.join(inter, Seq("doc1", "doc2"), "left")
      .join(sizes.select(col("doc_id").as("doc1"), col("n_sh").as("n1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("n_sh").as("n2")), "doc2")
      .select(col("doc1"), col("doc2"),
        (coalesce(col("inter"), lit(0L)) /
          (col("n1") + col("n2") - coalesce(col("inter"), lit(0L)))).as("jaccard"))
  }

  /**
   * Near-dup edges kept for clustering: the exact verified Jaccard of
   * a banded-LSH candidate must reach this. The comparison is safe to
   * replicate across engines: jaccard = inter/(n1+n2-inter) is a
   * single division of exact integers, bit-identical in Spark and
   * DuckDB.
   */
  final val ClusterMinJaccard = 0.5

  /**
   * Near-dup document CLUSTERING — the "collapse near-dups, keep one"
   * step of a training-data pipeline (the per-pair views above only
   * rank): verified minhash edges (jaccard >= [[ClusterMinJaccard]])
   * -> connected components ([[graft.pipe.Cluster.assign]], as in the
   * flagship: a driver union-find while the edges fit the driver heap,
   * the 100-TB-safe large-star/small-star loop above that bound) ->
   * cluster = min doc_id, canonical flag, cluster size.
   * Keeping `is_canonical = 1` rows is the dedup; the size column is
   * the dedup-rate audit.
   */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = minhashScored(spark, sfDir)
      .filter(col("jaccard") >= ClusterMinJaccard)
      .select(col("doc1").as("src"), col("doc2").as("dst"))
    val nodes = docs(spark, sfDir).select(col("doc_id").as("id"))
    val cc = graft.pipe.Cluster.assign(nodes, edges)
    val sizes = cc.groupBy("cluster")
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster")
      .select(col("id").as("doc_id"), col("cluster").cast("long").as("cluster"),
        col("cluster_size"),
        (col("id") === col("cluster")).cast("long").as("is_canonical"))
  }

  /**
   * Exact shingle-intersection counts computed ONLY for the given
   * candidate pairs: seed from `cands`, attach doc1's shingles, then
   * match doc2's on (doc2, shingle). Work is O(|cands| x shingles/doc)
   * — never the full co-shingle self-join.
   */
  private[graft] def candidateIntersections(cands: DataFrame,
                                          sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("doc1"), col("shingle")), "doc1")
      .join(sh.select(col("doc_id").as("doc2"), col("shingle")),
        Seq("doc2", "shingle"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))

  /** 64-bit SimHash over token FNV hashes (pure Scala, mapPartitions). */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    var start = 0
    val s = text
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          // two independent 32-bit FNV hashes (distinct offset bases)
          // give a full-entropy 64-bit word; multiplying a single hash
          // would correlate the top and bottom words and inflate band
          // collisions.
          val hi = Embed.fnv1a(s, start, i)
          val lo = Embed.fnv1aSeeded(s, start, i, 0x9e3779b9)
          val h = (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Band-guarantee budget: hamming<=3 differs in at most 3 of the 4
    * bands (pigeonhole), so band bucketing loses nothing. Shared with
    * the DuckDB oracle ([[graft.oracle.OracleSqlOps.dedupSimhash]]),
    * whose brute-force hamming filter must equal the bucketed output
    * exactly BECAUSE of this bound. */
  final val SimhashMaxHamming = 3

  /**
   * SimHash near-dup pairs: 4x16-bit band bucketing (pigeonhole: any
   * pair with hamming<=3 differs in at most 3 bands, so it must agree
   * exactly on >=1 of the 4), verified by full hamming distance. The
   * default maxHamming=[[SimhashMaxHamming]] matches the band
   * guarantee — a larger budget would silently lose pairs whose
   * differing bits span all 4 bands. Deterministic; oracle-checked —
   * the FNV token fold is replayed in DuckDB `list_reduce` and the
   * oracle's exact hamming join must reproduce the banded output.
   */
  def simhashPairs(spark: SparkSession, sfDir: String,
                   maxHamming: Int = SimhashMaxHamming): DataFrame = {
    import spark.implicits._
    val hashes = docs(spark, sfDir).select(col("doc_id"), normText.as("t"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, simhash64(t)) })
      .toDF("doc_id", "simhash")
    val bands = hashes.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL))
            .as("band_val"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.band_val").as("band_val"))
    bands.as("x").join(bands.as("y"), Seq("band", "band_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"),
        col("x.simhash").as("h1"), col("y.simhash").as("h2"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("doc1", "doc2", "hamming")
      .orderBy(col("hamming").asc, col("doc1").asc, col("doc2").asc)
      .limit(50)
  }

  /** Planted near-dup ids live at vec_id + PlantOffset (see
    * [[augmentedEmbeddings]]). */
  final val PlantOffset = 10000000L

  /**
   * Embedding table with PLANTED near-duplicates: every vec_id % 5 == 0
   * vector re-appears at vec_id + [[PlantOffset]] with its first
   * element scaled by 1.1 — cosine >= 0.995 by construction (the
   * fixture's natural max pairwise cosine is ~0.51, so planted pairs
   * are the ONLY near-dups above any sane threshold). The perturbation
   * is a pure column expression, so the DuckDB oracle derives the same
   * view up to float-vs-double rounding of the scaled element (Spark
   * multiplies in FLOAT, the oracle in DOUBLE — ~1e-8 apart). The
   * oracle contract is the PAIR SET, not the cosine values, and the
   * 0.51-vs-0.995 margin makes the set immune to that rounding.
   */
  def augmentedEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scan.parquet(spark, s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 5 === 0).select(
      (col("vec_id") + PlantOffset).as("vec_id"),
      concat(array(element_at(col("embedding"), 1) * lit(1.1f)),
        slice(col("embedding"), 2, 1000000)).as("embedding"))
    base.unionByName(planted)
  }

  /**
   * Scale path for embedding near-dup: random-hyperplane LSH bucketing
   * THEN exact cosine rerank only within buckets — work is
   * O(tables x sum of bucket^2), never label-bucket-quadratic like
   * [[embedCosine]]. Signature width adapts to the corpus
   * ([[Ann.lshBits]]: ~n/targetBucket buckets per table); `tables`
   * independent plane sets drive recall — at the default minCos=0.9
   * (theta <= 26 deg, per-bit collision >= 0.856) a qualifying pair
   * misses all 8 tables with probability < 1e-6 at fixture bucket
   * widths, and the planted pairs (cos >= 0.995) are recovered with
   * near-certainty, so the output is oracle-checkable against the
   * exact cosine join over [[augmentedEmbeddings]].
   */
  def embedLshPairs(spark: SparkSession, sfDir: String,
                    minCos: Double = 0.9, tables: Int = 8): DataFrame = {
    import spark.implicits._
    val e = augmentedEmbeddings(spark, sfDir).as[(Long, Array[Float])]
    val n = e.count()
    val bits = Ann.lshBits(n)
    val dim = 64
    val planes = spark.sparkContext.broadcast(Array.tabulate(tables) { t =>
      val rnd = new java.util.Random(2000 + t)
      Array.fill(bits)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    })
    val bucketed = e.mapPartitions { it =>
      val ps = planes.value
      it.flatMap { case (id, v) =>
        ps.iterator.zipWithIndex.map { case (p, t) =>
          (id, v, t, Ann.signature(v, p))
        }
      }
    }.toDF("vec_id", "embedding", "table", "sig")
    // shuffled-hash forced: the build side is the bucketed corpus
    // itself (grows with the data) — never a broadcastable dimension.
    // The cross-table dedup exchanges BARE ID PAIRS (a colliding pair
    // appears in up to `tables` buckets; shuffling two dim-wide vectors
    // per collision made the distinct the widest exchange of the
    // query); embeddings re-attach AFTER dedup with two hash joins.
    val ids = bucketed.select(col("table"), col("sig"), col("vec_id"))
    val candIds = ids.as("x")
      .join(ids.as("y").hint("shuffle_hash"), Seq("table", "sig"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id1"), col("y.vec_id").as("id2"))
      .distinct()
    val emb = e.toDF("vid", "vec")
    val cands = candIds
      .join(emb.select(col("vid").as("id1"), col("vec").as("v1")), "id1")
      .join(emb.select(col("vid").as("id2"), col("vec").as("v2")), "id2")
      .select(col("id1"), col("id2"), col("v1"), col("v2"))
    cands.as[(Long, Long, Array[Float], Array[Float])]
      .mapPartitions(_.map { case (a, b, va, vb) =>
        (a, b, Embed.cosine(va, vb))
      }).toDF("id1", "id2", "cos")
      .filter(col("cos") >= minCos)
      // ids only: the pair SET is the contract (kernel-exact cosine
      // values are not — Spark and DuckDB sum in different orders)
      .select(col("id1"), col("id2"))
      .orderBy(col("id1").asc, col("id2").asc)
  }

  /**
   * Embedding-cosine near-dup: top-20 same-label pairs by cosine (the
   * label bucket is the IVF-style candidate prune — never all pairs).
   * Cosine in double via zip_with/aggregate; output is rank-stable
   * integer ids (float-exact parity with the oracle is not required).
   * [[embedLshPairs]] is the sub-quadratic scale path.
   *
   * Scale guard: this is the EXACT baseline — within a label bucket it
   * is quadratic by design (m vectors -> m(m-1)/2 cosine pairs). A
   * bucket past `maxBucket` fails loudly up front (one cheap count
   * job) instead of materializing a ~m^2/2-row shuffle: at 2^17 the
   * worst bucket is ~8.6e9 pairs, the largest a 1000-executor job
   * digests as a baseline; anything hotter belongs to
   * [[embedLshPairs]].
   */
  def embedCosine(spark: SparkSession, sfDir: String,
                  maxBucket: Long = 1L << 17): DataFrame = {
    val e = graft.sources.Scan.parquet(spark, s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val hot = e.groupBy("label").count()
      .filter(col("count") > maxBucket)
      .orderBy(col("count").desc).limit(1).collect()
    require(hot.isEmpty, {
      val r = hot.head
      s"embedCosine: label bucket '${r.get(0)}' holds ${r.getLong(1)} " +
        s"vectors (> $maxBucket); the exact baseline is quadratic per " +
        "bucket — use embedLshPairs (bucketed, sub-quadratic) for " +
        "buckets this size"
    })
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), _ + _)
    e.as("a").join(e.as("b"), "label")
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        col("label"),
        (dot(col("a.v"), col("b.v")) /
          (sqrt(dot(col("a.v"), col("a.v"))) *
           sqrt(dot(col("b.v"), col("b.v"))))).as("cos"))
      .orderBy(col("cos").desc, col("id1").asc, col("id2").asc)
      .limit(20)
      .select("id1", "id2", "label")
  }
}
