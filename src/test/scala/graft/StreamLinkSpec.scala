package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LinkRec, StreamOps}

/**
 * Streaming incremental linkage (flatMapGroupsWithState per block):
 * over a bounded stream the emitted pair SET must equal the batch
 * blocking-join result above the same threshold — the same equivalence
 * the driver's DuckDB oracle (`stream_link_pairs`) checks at sf0.01.
 */
class StreamLinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("bounded stream emits exactly the batch pair set above threshold") {
    val streamed = StreamOps.streamLinkPairs(spark, SparkTestSession.sf0001)
      .select("idA", "idB", "jw").as[(Long, Long, Double)].collect().toSet
    val batch = EntryStages.scoredp(spark, SparkTestSession.sf0001)
      .filter(col("jw") >= 0.9)
      .select("idA", "idB", "jw").as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("multi-microbatch run (maxFilesPerTrigger=1) emits the same set: state carries across batches") {
    TempRoot("graft-slink-mb") { root =>
      val srcDir = s"$root/src"
      // split the source into several files -> several microbatches; pairs
      // whose two sides land in different batches are matched via state
      EntryStages.keyed(spark, SparkTestSession.sf0001)
        .select(col("id"), col("side"), col("content_norm").as("content"),
          col("block_key"))
        .repartition(6).write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream
        .schema("id BIGINT, side STRING, content STRING, block_key STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir)
        .as[graft.streaming.LinkRec]
      val (outDir, ckpt) = (s"$root/out", s"$root/ckpt")
      val q = StreamOps.streamingLink(stream, minJw = 0.9).writeStream
        .outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.read.parquet(outDir)
        .select("idA", "idB", "jw").as[(Long, Long, Double)].collect().toSet
      val batch = EntryStages.scoredp(spark, SparkTestSession.sf0001)
        .filter(col("jw") >= 0.9)
        .select("idA", "idB", "jw").as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch)
    }
  }

  test("maxPerSide cap keeps the newest records (hot-block memory bound)") {
    TempRoot("graft-slink-cap") { root =>
      val srcDir = s"$root/src"
      // one block; two A records arrive before the B record
      Seq(
        LinkRec(2L, "A", "match content one", "blk"),
        LinkRec(4L, "A", "match content two", "blk"),
        LinkRec(5L, "B", "match content two", "blk"))
        .toDS().write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream
        .schema("id BIGINT, side STRING, content STRING, block_key STRING")
        .parquet(srcDir).as[LinkRec]

      def run(cap: Int): Set[(Long, Long)] = {
        val (outDir, ckpt) = (s"$root/out-$cap", s"$root/ckpt-$cap")
        val q = StreamOps.streamingLink(stream, minJw = 0.0, maxPerSide = cap)
          .writeStream.outputMode("append").format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
        spark.read.parquet(outDir)
          .select("idA", "idB").as[(Long, Long)].collect().toSet
      }
      // uncapped: B scores against both prior A records
      assert(run(Int.MaxValue) == Set((2L, 5L), (4L, 5L)))
      // cap 1: oldest A evicted before B arrives — only the newest matches
      assert(run(1) == Set((4L, 5L)))
    }
  }

  test("capped run equals the newest-K oracle formula where eviction fires") {
    // The driver oracle (`stream_link_pairs_capped`) models newest-K
    // retention as: emit iff fewer than K same-side records of the
    // block have ids strictly BETWEEN the pair's two ids. Pin the
    // streaming implementation to that formula with a cap small enough
    // (2) that eviction drops a large share of pairs at sf0.001.
    val sf = SparkTestSession.sf0001
    val cap = 2
    val streamed = StreamOps
      .streamLinkPairs(spark, sf, minJw = 0.0, maxPerSide = cap)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val keyed = EntryStages.keyed(spark, sf)
      .select(col("id"), col("side"), col("block_key"))
    val pairs = EntryStages.scoredp(spark, sf)
      .select("idA", "idB", "block_key")
    val expected = pairs.as("p").join(keyed.as("k"),
        col("k.block_key") === col("p.block_key") &&
          ((col("p.idB") > col("p.idA") && col("k.side") === "A" &&
            col("k.id") > col("p.idA") && col("k.id") < col("p.idB")) ||
           (col("p.idA") > col("p.idB") && col("k.side") === "B" &&
            col("k.id") > col("p.idB") && col("k.id") < col("p.idA"))),
        "left")
      .groupBy(col("p.idA").as("idA"), col("p.idB").as("idB"))
      .agg(count(col("k.id")).as("between_n"))
      .filter(col("between_n") < cap)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val uncapped = pairs
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(expected.size < uncapped.size, "cap=2 must actually evict")
    assert(streamed == expected)
  }
}
