package graft.pipe

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic blocking: normalized-token block keys + the candidate
 * self-join, with explicit salting for skewed (hot) blocks.
 *
 * Reference semantics: candidate pairs are an inner equi-join of side A
 * x side B on one blocking key (surname2 / given_name:
 * /root/reference/data/census.py:86-89, /root/reference/data/febrl.py:88-91).
 * The reference materializes this with nested Python loops; here it is
 * a hash equi-join whose hot keys are salted — at 10^12-file scale
 * token blocks are Zipfian and AQE alone won't split a single build-side
 * key, so we replicate the B side over `salts` buckets and spread the A
 * side by a deterministic hash (SURVEY.md §4.3).
 */
object Blocking {

  /** One side's records, renamed for the pair: `id` -> `idA`, then
    * `keep` as is, then `content_a`, `dni_a`, `split_a` (for side "B":
    * `idB`, `content_b`, ...). */
  private def side(keyed: DataFrame, s: String, keep: Column*): DataFrame = {
    val x = s.toLowerCase
    keyed.filter(col("side") === s).select(
      (col("id").as(s"id$s") +: keep) ++ Seq(
        col("content_norm").as(s"content_$x"), col("dni").as(s"dni_$x"),
        col("split").as(s"split_$x")): _*)
  }

  /**
   * Block key = the first `c<digits>`/`c0` token of the normalized
   * content. Robust to every dup perturbation (which preserve the
   * token) — the analogue of FEBRL's given_name key surviving its
   * perturbations (/root/reference/data/febrl.py:55-71).
   */
  def withBlockKey(normalized: DataFrame): DataFrame =
    normalized.withColumn("block_key",
      regexp_extract(col("content_norm"), KeyPattern, 0))

  /** The block-key token [[withBlockKey]] extracts. */
  final val KeyPattern = "c[0-9]+"

  /**
   * Candidate pairs (idA, idB, block_key) from a salted A x B equi-join.
   * Output is identical to the plain `a.join(b, "block_key")` (the
   * oracle's formulation); salting only changes the physical plan.
   *
   * Skew handling is ADAPTIVE: a cheap pre-aggregation finds the hot
   * block keys (A-side row count >= hotThreshold); only those are
   * salted — the A side gets a deterministic per-row salt, the B side
   * is replicated over all `salts` buckets — so shuffle volume for the
   * long tail of small blocks stays 1x. The join is forced to a
   * SHUFFLED hash join: with a naive plan Spark happily broadcasts the
   * (replicated) build side, which is wrong at any real scale — the
   * build side grows with the data, unlike a dimension table.
   *
   * @param salts        salt fan-out for each hot key (>=1): caps a hot
   *                     block's pair count per task at ~(rows/salts)*rows;
   *                     only hot keys pay the B-side replication
   * @param hotThreshold A-side rows at which a block counts as hot
   */
  def candidates(keyed: DataFrame, salts: Int = 64,
                 hotThreshold: Int = 500): DataFrame = {
    require(salts >= 1)
    val a = side(keyed, "A", col("block_key"))
    val b = side(keyed, "B", col("block_key"))
    if (salts == 1) {
      a.join(b.hint("shuffle_hash"), "block_key")
    } else {
      // Hot keys stay a DataFrame, broadcast-joined as an `is_hot` flag:
      // never collect()ed to the driver and never inlined as an isin
      // literal — at 10^10+ rows the hot set (<= |A| / hotThreshold
      // keys, in practice the short Zipf head) would otherwise blow up
      // driver memory and the plan size. The flag join is broadcast, so
      // neither side reshuffles before the main salted join.
      val hot = a.groupBy("block_key").count()
        .filter(col("count") >= hotThreshold)
        .select(col("block_key"), lit(true).as("is_hot"))
      val isHot = coalesce(col("is_hot"), lit(false))
      val aS = a.join(broadcast(hot), Seq("block_key"), "left")
        .withColumn("salt",
          when(isHot, pmod(hash(col("idA")), lit(salts))).otherwise(lit(0)))
        .drop("is_hot")
      val bS = b.join(broadcast(hot), Seq("block_key"), "left")
        .withColumn("salt", explode(
          when(isHot, sequence(lit(0), lit(salts - 1)))
            .otherwise(array(lit(0)))))
        .drop("is_hot")
      aS.join(bS.hint("shuffle_hash"), Seq("block_key", "salt")).drop("salt")
    }
  }

  /**
   * Full-index (cartesian) candidate generation — the reference's CORA
   * mode, which pairs EVERY A record with every B record
   * (/root/reference/data/cora.py:116-118). First-class but GUARDED:
   * the cross product is counted before it is built and the call
   * refuses beyond `maxPairs` — an unguarded cross join is a
   * non-starter at web scale, where [[candidates]] (blocked + salted)
   * is the path; full index exists for small curated corpora.
   */
  def fullIndex(keyed: DataFrame, maxPairs: Long = 100000000L): DataFrame = {
    val a = side(keyed, "A")
    val b = side(keyed, "B")
    val nA = a.count()
    val nB = b.count()
    // overflow-safe: nA * nB wraps negative past ~3e9 x 3e9 — exactly
    // the web-scale inputs the guard exists to refuse
    require(nB == 0 || nA <= maxPairs / nB,
      s"full index would materialize $nA x $nB pairs " +
        s"(> $maxPairs); use the blocked candidates() path at this scale")
    a.crossJoin(b)
  }
}
