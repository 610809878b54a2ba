package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Optimal one-to-one assignment between the A-side and B-side members
 * of a block — the engine analogue of the reference's
 * Hungarian/household scoring (`linear_sum_assignment` over cosine
 * cost matrices of household members,
 * /root/reference/tests/test_transe_household.py:119-158).
 *
 * Matrices are family/block-sized, so the solver runs inside
 * `mapGroups` per block (typed, distributed across blocks); blocks
 * larger than `maxSide` fall back to greedy matching, bounding the
 * O(n^3) kernel (SURVEY.md §7.7).
 */
object Assignment {

  /**
   * Hungarian algorithm (Jonker-style O(n^2 m) shortest augmenting
   * path) on a rectangular cost matrix given as rows x cols; returns
   * for each row the assigned col (-1 if unassigned when rows > cols).
   */
  def solve(cost: Array[Array[Double]]): Array[Int] = {
    val n = cost.length
    if (n == 0) return Array.empty
    val m = cost(0).length
    if (m == 0) return Array.fill(n)(-1)
    // transpose if rows > cols so rows <= cols
    if (n > m) {
      val t = Array.tabulate(m, n)((j, i) => cost(i)(j))
      val colOfRow = solve(t) // for transposed: rows=m
      val out = Array.fill(n)(-1)
      colOfRow.zipWithIndex.foreach { case (i, j) => if (i >= 0) out(i) = j }
      return out
    }
    // potentials + matching (1-indexed internals, classic implementation)
    val INF = Double.MaxValue / 4
    val u = new Array[Double](n + 1)
    val v = new Array[Double](m + 1)
    val p = new Array[Int](m + 1) // p(j) = row matched to col j
    val way = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      p(0) = i
      var j0 = 0
      val minv = Array.fill(m + 1)(INF)
      val used = new Array[Boolean](m + 1)
      var done = false
      while (!done) {
        used(j0) = true
        val i0 = p(j0)
        var delta = INF
        var j1 = -1
        var j = 1
        while (j <= m) {
          if (!used(j)) {
            val cur = cost(i0 - 1)(j - 1) - u(i0) - v(j)
            if (cur < minv(j)) { minv(j) = cur; way(j) = j0 }
            if (minv(j) < delta) { delta = minv(j); j1 = j }
          }
          j += 1
        }
        j = 0
        while (j <= m) {
          if (used(j)) { u(p(j)) += delta; v(j) -= delta }
          else minv(j) -= delta
          j += 1
        }
        j0 = j1
        done = p(j0) == 0
      }
      while (j0 != 0) { p(j0) = p(way(j0)); j0 = way(j0) }
      i += 1
    }
    val out = Array.fill(n)(-1)
    var j = 1
    while (j <= m) { if (p(j) > 0) out(p(j) - 1) = j - 1; j += 1 }
    out
  }

  /** Greedy matching on a dense matrix (kept for the adversarial-case
    * unit comparison against [[solve]]; the distributed path uses
    * [[greedySparse]] and never materializes a matrix). */
  def greedy(cost: Array[Array[Double]]): Array[Int] = {
    val n = cost.length
    if (n == 0) return Array.empty
    val m = cost(0).length
    val order = (for (i <- 0 until n; j <- 0 until m) yield (cost(i)(j), i, j))
      .sortBy { case (c, i, j) => (c, i, j) }
    val out = Array.fill(n)(-1)
    val usedCol = new Array[Boolean](m)
    order.foreach { case (_, i, j) =>
      if (out(i) < 0 && !usedCol(j)) { out(i) = j; usedCol(j) = true }
    }
    out
  }

  /**
   * Greedy matching DIRECTLY off the sparse (a, b, cost) pair list:
   * sort by (cost, a, b), take a pair iff both endpoints are free.
   * O(p log p) time, O(p) memory in the number of PAIRS — never the
   * |A| x |B| matrix the round-2 version allocated per block (8M cells
   * for the sf0.1 hot block; an OOM at 100x).
   *
   * @return (matchedPairCount, totalCostMicros)
   */
  def greedySparse(pairs: Array[(Long, Long, Double)]): (Long, Long) = {
    val sorted = pairs.sortBy { case (a, b, c) => (c, a, b) }
    val usedA = new java.util.HashSet[Long]()
    val usedB = new java.util.HashSet[Long]()
    var n = 0L
    var total = 0L
    var i = 0
    while (i < sorted.length) {
      val (a, b, c) = sorted(i)
      if (!usedA.contains(a) && !usedB.contains(b)) {
        usedA.add(a); usedB.add(b)
        n += 1
        total += math.round(c * 1000000)
      }
      i += 1
    }
    (n, total)
  }

  /**
   * Per-block one-to-one assignment over the scored candidate pairs:
   * returns (block_key, n_a, n_b, n_assigned, cost_micros, method).
   *
   * Scale shape: blocks small on BOTH sides (<= maxSide) run the exact
   * Hungarian kernel on a dense matrix (missing pairs cost 1.0, as the
   * reference completes its cost matrices); every other block runs
   * [[greedySparse]] on its candidate pair list, PRUNED before the
   * group shuffle to each endpoint's topR cheapest pairs (two
   * row_number windows) — a one-to-one matching can use at most one
   * pair per endpoint, so pruning to the per-endpoint cheap edges
   * bounds per-task input at O((|A|+|B|) x topR) while leaving the
   * greedy result essentially intact. No task ever holds a
   * pair-count-of-the-hot-block-sized (let alone |A| x |B|) structure.
   */
  def blockAssignment(spark: SparkSession, sfDir: String,
                      maxSide: Int = 30, topR: Int = 5): DataFrame =
    assignPairs(
      graft.EntryStages.scoredp(spark, sfDir)
        .select(col("block_key"), col("idA"), col("idB"), col("dist")),
      maxSide, topR)

  /**
   * Per-CELL assignment detail over an explicit (block_key, idA, idB,
   * dist) pair set: one row per ASSIGNED cell of each block's optimal
   * (or greedy, past `maxSide`) matching —
   * (block_key, idA, idB, cell_micros, method). Cells the solver
   * assigns to a MISSING pair (the dense matrix's 1.0 filler) are
   * emitted too (cell_micros = 1e6, real idA/idB) so
   * `SUM(cell_micros) GROUP BY block_key` reproduces the exact
   * assignment cost the reference's `cost_matrix[row_ind, col_ind]
   * .sum()` computes over its dense matrix
   * (/root/reference/tests/test_transe_household.py:119-158). Same
   * pre-shuffle pruning + per-task bounds as [[assignPairs]].
   */
  def assignedCells(pairs: DataFrame, maxSide: Int = 30,
                    topR: Int = 5): DataFrame = {
    import pairs.sparkSession.implicits._
    prunedPairs(pairs, maxSide, topR).groupByKey(_._1).flatMapGroups {
      (key, it) =>
        val ps = it.map { case (_, a, b, d) => (a, b, d) }.toArray
        val as = ps.map(_._1).distinct.sorted
        val bs = ps.map(_._2).distinct.sorted
        if (as.length <= maxSide && bs.length <= maxSide) {
          val aIdx = as.zipWithIndex.toMap
          val bIdx = bs.zipWithIndex.toMap
          val cost = Array.fill(as.length, bs.length)(1.0)
          ps.foreach { case (a, b, d) => cost(aIdx(a))(bIdx(b)) = d }
          solve(cost).zipWithIndex.iterator.collect {
            case (j, i) if j >= 0 =>
              (key, as(i), bs(j), math.round(cost(i)(j) * 1000000),
                "hungarian")
          }
        } else {
          val sorted = ps.sortBy { case (a, b, c) => (c, a, b) }
          val usedA = new java.util.HashSet[Long]()
          val usedB = new java.util.HashSet[Long]()
          sorted.iterator.filter { case (a, b, _) =>
            if (usedA.contains(a) || usedB.contains(b)) false
            else { usedA.add(a); usedB.add(b); true }
          }.map { case (a, b, c) =>
            (key, a, b, math.round(c * 1000000), "greedy")
          }
        }
    }.toDF("block_key", "idA", "idB", "cell_micros", "method")
  }

  /** Shared pre-shuffle pruning of [[assignPairs]] /
    * [[assignedCells]]. */
  private def prunedPairs(pairs: DataFrame, maxSide: Int, topR: Int) = {
    import pairs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val wBlock = Window.partitionBy("block_key")
    val wA = Window.partitionBy("block_key", "idA")
      .orderBy(col("dist").asc, col("idB").asc)
    val wB = Window.partitionBy("block_key", "idB")
      .orderBy(col("dist").asc, col("idA").asc)
    val maxPairs = maxSide.toLong * maxSide
    pairs
      .withColumn("n_pairs", count(lit(1)).over(wBlock))
      .withColumn("ra", row_number().over(wA))
      .withColumn("rb", row_number().over(wB))
      // small blocks keep every pair (exact Hungarian needs the full
      // matrix); big blocks keep each endpoint's topR cheapest edges
      .filter(col("n_pairs") <= maxPairs ||
        col("ra") <= topR || col("rb") <= topR)
      .select(col("block_key"), col("idA"), col("idB"), col("dist"))
      .as[(String, Long, Long, Double)]
  }

  /** Core of [[blockAssignment]] over an explicit
    * (block_key, idA, idB, dist) pair set. */
  def assignPairs(pairs: DataFrame, maxSide: Int = 30,
                  topR: Int = 5): DataFrame = {
    import pairs.sparkSession.implicits._
    prunedPairs(pairs, maxSide, topR).groupByKey(_._1).mapGroups { (key, it) =>
      val ps = it.map { case (_, a, b, d) => (a, b, d) }.toArray
      val as = ps.map(_._1).distinct.sorted
      val bs = ps.map(_._2).distinct.sorted
      if (as.length <= maxSide && bs.length <= maxSide) {
        val aIdx = as.zipWithIndex.toMap
        val bIdx = bs.zipWithIndex.toMap
        val cost = Array.fill(as.length, bs.length)(1.0)
        ps.foreach { case (a, b, d) => cost(aIdx(a))(bIdx(b)) = d }
        val assign = solve(cost)
        var total = 0L
        var nAssigned = 0L
        assign.zipWithIndex.foreach { case (j, i) =>
          if (j >= 0) { total += math.round(cost(i)(j) * 1000000); nAssigned += 1 }
        }
        (key, as.length.toLong, bs.length.toLong, nAssigned, total, "hungarian")
      } else {
        val (nAssigned, total) = greedySparse(ps)
        (key, as.length.toLong, bs.length.toLong, nAssigned, total, "greedy")
      }
    }.toDF("block_key", "n_a", "n_b", "n_assigned", "cost_micros", "method")
      .orderBy("block_key")
  }
}
