package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan assertions: the properties that matter at 100 TB are
 * locked in as tests, not one-off .explain() checks — filter/column
 * pushdown into the parquet scan, whole-stage codegen around the
 * custom Jaro-Winkler expression, and the shuffled (never broadcast)
 * candidate join.
 */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("filters push down to the parquet scan") {
    val df = ops.TextOps.documents(spark, sf).filter(col("doc_id") < 10)
      .select("doc_id", "lang")
    val plan = executed(df)
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]"),
      s"no pushed filter in:\n$plan")
  }

  test("column pruning reaches the scan (unused orders columns not read)") {
    val plan = executed(gen.Synth.records(spark, sf).select("id", "lang"))
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("o_orderdate"),
      "o_orderdate should be pruned from the orders scan")
  }

  test("jaro_winkler expression runs inside whole-stage codegen") {
    val df = ops.TextOps.documents(spark, sf)
      .select(functions.GraftFunctions.jaro_winkler(col("text"), col("source")).as("jw"))
    val plan = executed(df)
    // the project containing the expression is codegen'd (starred)
    assert(plan.contains("jaro_winkler"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("*") && l.contains("Project")), s"no codegen project:\n$plan")
  }

  test("partitioned stage checkpoint prunes partitions on read") {
    TempRoot("graft-part") { root =>
      ckpt.Checkpoint.stage(spark, root, "recs", "fp",
        partitionBy = Seq("commit", "lang")) {
        gen.Synth.records(spark, sf)
      }
      val read = spark.read.parquet(s"$root/recs")
        .filter(col("commit") === "c1" && col("lang") === "scala")
      val plan = executed(read.select("id"))
      assert(plan.contains("PartitionFilters"), plan)
      assert(read.count() > 0)
      // only the matching hive partition is scanned
      val prunedOk = plan.linesIterator
        .exists(l => l.contains("PartitionFilters") && l.contains("commit"))
      assert(prunedOk, s"commit not in partition filters:\n$plan")
    }
  }

  test("candidate join is a shuffled hash join; no literal hot-key list") {
    val keyed = pipe.Blocking.withBlockKey(
      pipe.Normalize(gen.Synth.records(spark, sf)))
    val plan = executed(pipe.Blocking.candidates(keyed))
    assert(plan.contains("ShuffledHashJoin"), s"expected SHJ in:\n$plan")
    // The data-sized pair join must not broadcast. The bounded hot-key
    // FLAG join is the only permitted broadcast: it joins on block_key
    // and carries no content column.
    plan.linesIterator.filter(_.contains("BroadcastHashJoin")).foreach { l =>
      assert(l.contains("block_key") && !l.contains("content"),
        s"unexpected data-sized broadcast:\n$l")
    }
    // hot keys must arrive as a joined flag, never an inlined isin list
    assert(!plan.contains("INSET") && !plan.contains(" IN ("),
      s"literal hot-key list inlined into the plan:\n$plan")
  }

  test("HTransE composite joins on pair/block keys; never a cartesian") {
    // The per-pair composite = pair scores + block assignment cost +
    // optimal-cell membership, all joined on (block_key[, idA, idB]).
    // At 100 TB the failure mode would be a nested-loop/cartesian
    // between the pair set and the solver output, or a broadcast of
    // the data-sized cells side — lock in that neither happens (the
    // one-row-per-block cost table is the only permitted broadcast).
    val plan = executed(sim.HTransE.pairScores(spark, sf, maxSide = 25)
      .filter(col("split_a") === "test"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-keyed join in the HTransE composite:\n$plan")
    // every broadcast must be an EQUI-join on an id/block key (those
    // are stats-estimated and revert to shuffle joins at scale; a
    // non-keyed broadcast would stay quadratic at any size)
    plan.linesIterator.filter(_.contains("BroadcastHashJoin")).foreach { l =>
      assert(l.contains("block_key") || l.contains("idA") ||
        l.contains("idB"), s"broadcast not keyed on pair/block keys:\n$l")
    }
  }

  test("LSH cross-table dedup exchanges bare id pairs, not embeddings") {
    // A colliding pair appears in up to `tables` buckets; the distinct
    // that dedups them must shuffle TWO LONG COLUMNS, never the two
    // dim-wide vectors (which round 3 shipped once per collision).
    for (df <- Seq(ops.Ann.lshTopK(spark, sf),
                   ops.Dedup.embedLshPairs(spark, sf))) {
      val plan = executed(df)
      val distinctExchanges = plan.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") &&
          (l.contains("query_id") && l.contains("neighbor_id") ||
           l.contains("id1") && l.contains("id2"))).toSeq
      assert(distinctExchanges.nonEmpty, s"no pair-dedup exchange in:\n$plan")
      distinctExchanges.foreach { l =>
        assert(!l.contains("embedding") && !l.contains("qv") &&
          !l.contains("v1"), s"dedup exchange still carries vectors:\n$l")
      }
    }
  }
}
