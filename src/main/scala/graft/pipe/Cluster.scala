package graft.pipe

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Transitive closure over match edges via connected components — the
 * scale-correct replacement for the reference's SEEA grow-the-match-set
 * loop (/root/reference/EAR/seea.py:307-342), per SURVEY.md §7.3.
 *
 * Hybrid: the distributed half is iterative large-star / small-star
 * (Kiveris et al., "Connected Components in MapReduce and Beyond",
 * SoCC'14); the driver half is a union-find over primitive arrays.
 * Before the first round and after every round the canonical edge set
 * is counted; once the count is at or below `driverEdges` the edges
 * are collected and the driver finishes. Both star operations keep the
 * node set and the connectivity, and the label is the component
 * minimum, so switching at round 0, at a later round or never gives
 * the same `(node, cluster)` rows.
 *
 * A distributed round sizes its shuffles by an explicit
 * `repartition(width, src)` on each star's input and before the
 * distinct (no session conf is touched); rounds are O(log n);
 * `localCheckpoint()` cuts lineage per round so plans stay bounded.
 * Convergence is detected by a deterministic checksum of the canonical
 * edge set.
 */
object Cluster {

  /**
   * The driver-side edge bound: a quarter of the driver heap at
   * `DriverBytesPerEdge` per canonical edge. Past it the edges stay
   * distributed.
   */
  private def driverEdges: Long = Runtime.getRuntime.maxMemory / 4 / DriverBytesPerEdge

  /**
   * Driver bytes one canonical edge can cost on the way to the labels:
   * the packed collect, its decode and the sorted copy (48), the id,
   * parent and label arrays (40), and up to two label rows in the local
   * frame and the broadcast relation built from it (2 x 80).
   */
  private final val DriverBytesPerEdge = 256L

  /** canonicalize: undirected, no self loops, distinct (lo, hi);
    * `width` fixes the distinct's shuffle width per plan. */
  private def canon(edges: DataFrame, width: Option[Int] = None): DataFrame = {
    val c = edges.select(
      least(col("src"), col("dst")).as("src"),
      greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    width.fold(c)(n => c.repartition(n, col("src"))).distinct()
  }

  /**
   * large-star: for each node u (over bidirected edges) link every
   * strictly-larger neighbor to m = min(N(u) + {u}).
   */
  private def largeStar(edges: DataFrame, width: Int): DataFrame = {
    val bi = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(width, col("src"))
    val m = bi.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    bi.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /**
   * small-star: key every edge by its larger endpoint; link the
   * smaller neighbors (and the key itself) to the minimum.
   */
  private def smallStar(edges: DataFrame, width: Int): DataFrame = {
    val dir = edges.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
      .repartition(width, col("src"))
    val m = dir.groupBy("src").agg(min("dst").as("m"))
    dir.join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(m.select(col("src"), col("m").as("dst")))
  }

  /** checksum for convergence: (count, xor of edge hashes) — xor is
    * order-independent and overflow-free under ANSI mode. */
  private def checksum(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("h")).head()
    (r.getLong(0), r.getLong(1))
  }

  /**
   * Union-find over `src, dst` pairs: sorted distinct node ids, a
   * binary-search index, and a union that always keeps the smaller
   * root, so every root is its component's minimum.
   * @return (nodes ascending, component minimum of each)
   */
  private def unionFind(edges: Array[Long]): (Array[Long], Array[Long]) = {
    val sorted = edges.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(i) != sorted(n - 1)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    i = 0
    while (i < edges.length) {
      val a = find(java.util.Arrays.binarySearch(ids, edges(i)))
      val b = find(java.util.Arrays.binarySearch(ids, edges(i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 2
    }
    (ids, Array.tabulate(n)(k => ids(find(k))))
  }

  /** Labels and where they live: a small local frame (`onDriver`) or a
    * distributed one. */
  private[pipe] final case class Components(labels: DataFrame, onDriver: Boolean)

  /** Collects the edges, each partition packed as `src, dst, ...`, and
    * labels them on the driver. */
  private def onDriver(sess: SparkSession, edges: RDD[(Long, Long)]): Components = {
    import sess.implicits._
    val (nodes, mins) = unionFind(edges.mapPartitions { it =>
      val b = Array.newBuilder[Long]
      it.foreach { case (s, d) => b += s; b += d }
      Iterator.single(b.result())
    }.collect().flatten)
    Components(nodes.indices.map(i => (nodes(i), mins(i))).toDF("node", "cluster"),
      onDriver = true)
  }

  /** Large-star / small-star rounds from the canonical `input`, handing
    * over to the driver once `toDriver` accepts a round's edge count. */
  private def rounds(input: DataFrame, maxRounds: Int,
                     toDriver: (Int, Long) => Boolean): Components = {
    val sess = input.sparkSession
    // LAZY localCheckpoint: the checksum aggregation right after is the
    // action that materializes it, so each round costs ONE job instead
    // of two (eager checkpoint job + checksum job).
    var cur = input.localCheckpoint(false)
    var prev = checksum(cur)
    // ~25k edges per task, capped at the default parallelism; each
    // round's repartitions fix the width per plan.
    val width = math.max(1L, math.min(
      sess.sparkContext.defaultParallelism.toLong, prev._1 / 25000 + 1)).toInt
    var done: Option[Components] = None
    var round = 0
    while (done.isEmpty && round < maxRounds) {
      val next = canon(smallStar(largeStar(cur, width), width), Some(width))
        .localCheckpoint(false)
      val cs = checksum(next)
      round += 1
      if (toDriver(round, cs._1)) done = Some(onDriver(sess, longPairs(next)))
      else if (cs == prev) done = Some(starLabels(next))
      else { prev = cs; cur = next }
    }
    done.getOrElse(starLabels(cur))
  }

  /** At fixpoint the graph is a star per component rooted at its min;
    * canonical edges are (lo=min, hi=member), so labels read off as
    * hi -> lo (and lo -> lo for the roots). */
  private def starLabels(cur: DataFrame): Components = {
    val nodes = cur.select(col("dst").as("node"), col("src").as("cluster"))
      .union(cur.select(col("src").as("node"), col("src").as("cluster")))
    Components(nodes.groupBy("node").agg(min("cluster").as("cluster")), onDriver = false)
  }

  private def longPairs(edges: DataFrame): RDD[(Long, Long)] =
    edges.as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).rdd

  /**
   * Connected components of the undirected edge set `(src, dst)` of
   * bigint node ids.
   * @return (node, cluster) for every node that appears in an edge;
   *         cluster = component minimum.
   */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50): DataFrame =
    components(edges, maxRounds).labels

  /**
   * @param toDriver (round, canonical edge count) => finish on the
   *                 driver; round 0 is the canonical input.
   */
  private[pipe] def components(edges: DataFrame, maxRounds: Int = 50,
      toDriver: (Int, Long) => Boolean = (_, n) => n <= driverEdges): Components = {
    val sess = edges.sparkSession
    import sess.implicits._
    // one RDD serves the count and then the collect or the first
    // checkpoint, which reuse the count's shuffle output; at round 0
    // nothing is cached
    val input = longPairs(canon(edges))
    if (toDriver(0, input.count())) onDriver(sess, input)
    else rounds(input.toDF("src", "dst"), maxRounds, toDriver)
  }

  /**
   * Cluster assignment for every record id: component min for matched
   * records, own id for singletons.
   */
  def assign(recordIds: DataFrame, edges: DataFrame): DataFrame =
    assignFrom(recordIds, components(edges))

  private[pipe] def assignFrom(recordIds: DataFrame, cc: Components): DataFrame = {
    // driver labels are a small local frame: broadcast them. Distributed
    // labels take a shuffled hash join, not sort-merge: both sides are
    // id-keyed longs and the cc side (matched nodes only) is the smaller
    // per partition, and the build side never grows beyond the record
    // count (guide §3.1).
    val labels = cc.labels.withColumnRenamed("node", "id")
    recordIds.select(col("id"))
      .join(if (cc.onDriver) broadcast(labels) else labels.hint("shuffle_hash"),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }
}
