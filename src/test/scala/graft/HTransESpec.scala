package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Assignment
import graft.sim.HTransE

/**
 * HTransE composite score (reference
 * tests/test_transe_household.py:119-158): the assignment detail must
 * agree cell-for-cell with the Hungarian solver on a hand-checkable
 * block, block totals must match the independently computed
 * assignPairs costs on real data, and the end-to-end eval must land in
 * the reference's TransE-family band.
 */
class HTransESpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  test("assignedCells reproduces the known optimal matching and emits " +
      "the 1.0 filler for assigned-but-missing pairs") {
    import spark.implicits._
    // block b1: 2x2 with a cheap diagonal; the (1,11)+(2,12) matching
    // costs 0.1 + 0.2 = 0.3 vs the anti-diagonal 0.05 + 1.0 (missing
    // (2,11) cell costs the 1.0 filler) = 1.05 — Hungarian must pick
    // the diagonal even though (1,12) is the single cheapest cell.
    val pairs = Seq(
      ("b1", 1L, 11L, 0.1), ("b1", 1L, 12L, 0.05), ("b1", 2L, 12L, 0.2)
    ).toDF("block_key", "idA", "idB", "dist")
    val cells = Assignment.assignedCells(pairs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(cells == Set(("b1", 1L, 11L, 100000L), ("b1", 2L, 12L, 200000L)),
      s"got $cells")
  }

  test("assignedCells block totals equal assignPairs costs on real " +
      "blocks (both solver paths)") {
    val scored = EntryStages.scoredp(spark, sf)
      .select(col("block_key"), col("idA"), col("idB"), col("dist"))
    // maxSide = 8 forces sf0.001's bigger blocks onto the greedy path
    // so BOTH kernels are compared against their assignPairs totals
    val fromCells = Assignment.assignedCells(scored, maxSide = 8)
      .groupBy("block_key")
      .agg(sum("cell_micros").as("c"), count(lit(1)).as("n"))
    val fromTotals = Assignment.assignPairs(scored, maxSide = 8)
      .select(col("block_key"), col("cost_micros").as("c2"),
        col("n_assigned").as("n2"), col("method"))
    val joined = fromCells.join(fromTotals, "block_key")
    assert(joined.filter(col("c") =!= col("c2") || col("n") =!= col("n2"))
      .count() == 0)
    // both kernels must actually be exercised
    val methods = fromTotals.select("method").distinct()
      .collect().map(_.getString(0)).toSet
    assert(methods == Set("hungarian", "greedy"), s"got $methods")
  }

  test("composite distance: assigned pairs carry exactly the block " +
      "cost; unassigned pairs add their own pair distance") {
    val base = sim.TransE.pairScores(spark, sf)
      .withColumn("pair_dist", abs(lit(1.0) - col("cos")))
    val cells = Assignment.assignedCells(
      base.select(col("block_key"), col("idA"), col("idB"),
        col("pair_dist").as("dist")))
    val blockCost = cells.groupBy("block_key")
      .agg((sum("cell_micros") / 1e6).as("bc"))
    val composite = HTransE.pairScores(spark, sf)
    val checked = composite
      .join(blockCost, "block_key")
      .join(cells.select(col("block_key"), col("idA"), col("idB"),
        lit(1L).as("assigned")), Seq("block_key", "idA", "idB"), "left")
      .join(base.select(col("block_key"), col("idA"), col("idB"),
        col("pair_dist")), Seq("block_key", "idA", "idB"))
    val bad = checked.filter(
      abs(col("dist") * HTransE.MaxDistance -
        (col("bc") + when(col("assigned").isNotNull, lit(0.0))
          .otherwise(col("pair_dist")))) > lit(1e-9))
    assert(bad.count() == 0)
    // the "pair in assignment" branch must be non-vacuous both ways
    assert(checked.filter(col("assigned").isNotNull).count() > 0)
    assert(checked.filter(col("assigned").isNull).count() > 0)
  }

  test("htranse_eval lands in the reference TransE-family band") {
    val row = HTransE.eval(spark, sf).head()
    // bit-exact pin of theta, f1, precision, recall, mrr (TrainPins)
    assert(TrainPins.evalBits(row) == TrainPins.bits(
      0.36, 0.46215139442231074, 0.35876288659793815,
      0.6492537313432836, 0.6799750932835821))
    val f1 = row.getAs[Double]("f1")
    val mrr = row.getAs[Double]("mrr")
    // thesis Tables 5.2-5.4: the HTransE tier is a weak-signal
    // embedding family member (far below the string flagship)
    assert(f1 >= 0.1 && f1 <= 1.0, s"htranse f1 $f1")
    assert(mrr >= 0.2, s"htranse mrr $mrr")
  }
}
