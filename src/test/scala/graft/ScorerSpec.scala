package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{Embed, Scorer}

class ScorerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  test("mapPartitions scorer agrees bit-for-bit with the column path on jw/lev") {
    val cand = EntryStages.cand(spark, sf)
    val colPath = EntryStages.feats(spark, sf)
      .select("idA", "idB", "jw", "lev")
    val mapPath = Scorer.scoreDF(cand, Scorer.broadcastProjection(spark))
      .select("idA", "idB", "jw", "lev")
    assert(mapPath.count() == colPath.count())
    assert(mapPath.exceptAll(colPath).isEmpty && colPath.exceptAll(mapPath).isEmpty)
  }

  test("exact-match pairs short-circuit to score 1.0") {
    // the synthetic data no longer contains exact dups (every B-side
    // record evolves the st field), so drive the short-circuit with a
    // constructed pair: identical contents must score exactly 1.0
    // without touching the string kernels.
    import spark.implicits._
    val cand = Seq(
      (1L, 2L, "b", "fn c1 alpha fin", "fn c1 alpha fin", 7L, 7L, "test", "test"),
      (3L, 4L, "b", "fn c1 alpha fin", "fn c1 alpha done", 8L, 8L, "test", "test"))
      .toDF("idA", "idB", "block_key", "content_a", "content_b",
        "dni_a", "dni_b", "split_a", "split_b")
    val scored = Scorer.scoreDF(cand, Scorer.broadcastProjection(spark))
    val exact = scored.filter(col("idA") === 1).head()
    assert(exact.getAs[Double]("jw") == 1.0 && exact.getAs[Double]("lev") == 1.0
      && exact.getAs[Double]("score") == 1.0)
    val near = scored.filter(col("idA") === 3).head()
    assert(near.getAs[Double]("score") < 1.0 && near.getAs[Double]("score") > 0.5)
  }

  test("the vector memo keeps an A record and a B record with the same id apart") {
    import spark.implicits._
    // one partition: the B record 2 is memoized before the A record 2 is scored
    val cand = Seq(
      (1L, 2L, "b", "fn c1 alpha fin", "fn c1 bravo done", 7L, 8L, "test", "test"),
      (2L, 1L, "b", "fn c1 cedar open", "fn c1 delta dwell", 9L, 6L, "test", "test"))
      .toDF("idA", "idB", "block_key", "content_a", "content_b",
        "dni_a", "dni_b", "split_a", "split_b").coalesce(1)
    val proj = Embed.projection()
    val cos = Scorer.scoreDF(cand, Scorer.broadcastProjection(spark))
      .orderBy("idA").select("cos").as[Double].collect().toSeq
    val expected = Seq(("fn c1 alpha fin", "fn c1 bravo done"),
                       ("fn c1 cedar open", "fn c1 delta dwell"))
      .map { case (a, b) => Embed.cosine(Embed.vector(a, proj), Embed.vector(b, proj)) }
    assert(cos == expected)
  }

  test("embedding vectors: deterministic, unit-norm, cosine sane") {
    val proj = Embed.projection()
    val v1 = Embed.vector("fn c370 alpha fin 1 urgent anvil val 105367 k 1", proj)
    val v2 = Embed.vector("fn c370 alpha fin 1 urgent anvil val 105367 k 1", proj)
    assert(v1.toSeq == v2.toSeq)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    assert(Embed.cosine(v1, v2) > 0.999999)
    val far = Embed.vector("zzz completely different qqq 999", proj)
    assert(Embed.cosine(v1, far) < 0.8)
    val near = Embed.vector("fn c370 alpha fin 1 urgent anvil value 105367 k 1", proj)
    assert(Embed.cosine(v1, near) > 0.9)
  }
}
