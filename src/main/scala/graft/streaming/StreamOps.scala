package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** One record flowing through the streaming linkage operator. */
case class LinkRec(id: Long, side: String, content: String, block_key: String)

/** A matched pair emitted by the streaming linkage operator. */
case class LinkedPair(idA: Long, idB: Long, jw: Double)

/** Per-block state: the records of each side seen so far (insertion
  * order; oldest first, so a cap evicts the oldest). */
case class LinkState(a: List[(Long, String)], b: List[(Long, String)])

/**
 * Structured Streaming operators over the `events` table
 * (event_id, ts, user_id, event_type, value, props).
 *
 * The reference is batch-only (SURVEY.md §1.4); these demonstrate the
 * engine's streaming surface: watermarked tumbling-window aggregation
 * driven to completion over the file source, with a batch-equivalent
 * DuckDB oracle (the windowed result of a bounded stream equals the
 * batch GROUP BY).
 */
object StreamOps {

  /** Per-side state cap for the registered `stream_link_pairs_capped`
    * query — newest-K retention on the hot block, single-sourced into
    * the DuckDB oracle ([[graft.oracle.OracleSql.streamLinkPairsCapped]]). */
  final val CappedMaxPerSide = 64

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /**
   * 5-minute tumbling windows per event_type with a 10-minute
   * watermark, executed as a real streaming query in APPEND mode to a
   * parquet FILE sink — the scale-correct shape: state for a window is
   * emitted once the watermark passes and then DROPPED, so neither
   * executor state nor any driver structure grows with the number of
   * distinct windows (a `complete`+memory-sink variant would hold all
   * windows forever). `value` is summed in exact cents (round half-up
   * per row) so results hash-match the oracle.
   *
   * The bounded file source never advances the watermark past the last
   * batch, so rows still buffered at end-of-input are flushed with one
   * final max-timestamp nudge row (filtered back out of the result) —
   * the standard trick for draining append-mode windows in a finite
   * test stream. The source, sink and checkpoint are [[staged]] per
   * (application, sfDir), so a later call for the same sfDir replaces
   * the sink this frame reads.
   */
  def windowedCounts(spark: SparkSession, sfDir: String): DataFrame =
    staged(spark, "windowed", sfDir) { wiped =>
      val (dir, outDir, ckptDir) = (wiped("src"), wiped("out"), wiped("ckpt"))
      // the streaming file source wants a directory; stage a symlink
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(dir, "part-00000.parquet"),
        java.nio.file.Paths.get(s"$sfDir/events.parquet"))
      val stream = spark.readStream
        .schema(eventsSchema)
        .parquet(dir)
      val agg = stream
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("value_cents"))
        .select(unix_timestamp(col("window.start")).as("window_epoch"),
          col("event_type"), col("n"), col("value_cents"))
      val q = agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .start()
      try q.processAllAvailable() finally q.stop()
      // drain: push the watermark past every real window with one far-
      // future row, process, then drop its window from the result
      val maxEpoch = spark.read.parquet(s"$sfDir/events.parquet")
        .agg(max(unix_timestamp(col("ts")))).head().getLong(0)
      val nudge = spark.sql(
        s"""SELECT CAST(-1 AS BIGINT) AS event_id,
           timestamp_seconds(${maxEpoch + 3600}) AS ts,
           CAST(-1 AS BIGINT) AS user_id, '__drain__' AS event_type,
           CAST(0.0 AS DOUBLE) AS value, '' AS props""")
      nudge.coalesce(1).write.mode("append").parquet(dir)
      val q2 = agg.writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .start()
      try q2.processAllAvailable() finally q2.stop()
      spark.read.parquet(outDir)
        .filter(col("event_type") =!= "__drain__")
    }

  /**
   * Incremental (streaming) record linkage via
   * `flatMapGroupsWithState`: records arrive as a stream, are routed to
   * their block (`groupByKey(block_key)` — blocking IS the state
   * partitioning), and each new arrival is scored against the opposite
   * side's records held in per-block state; pairs with
   * `jaroWinkler >= minJw` are emitted exactly once — when the later of
   * the two records arrives. Over a bounded stream the emitted SET
   * equals the batch result (all same-block A×B pairs above the
   * threshold) regardless of arrival order, which is what the DuckDB
   * oracle checks (`stream_link_pairs`).
   *
   * Scale shape: state lives in the executor state store, partitioned
   * by block key — O(block members within the retention policy), never
   * global. In production the retention policy bounds it: either
   * `maxPerSide` (keep the newest K per side, evicting oldest — the
   * recall-for-memory trade every streaming ER system makes on hot
   * blocks) or a timeout-based TTL; the bounded-test default keeps
   * everything so the oracle equality is exact. Batch values are
   * processed in id order so re-runs are deterministic even when the
   * source splits input across tasks.
   */
  def streamingLink(records: org.apache.spark.sql.Dataset[LinkRec],
                    minJw: Double,
                    maxPerSide: Int = Int.MaxValue): DataFrame = {
    import records.sparkSession.implicits._
    def cap(xs: List[(Long, String)]): List[(Long, String)] =
      if (xs.length > maxPerSide) xs.drop(xs.length - maxPerSide) else xs
    records
      .groupByKey(_.block_key)
      .flatMapGroupsWithState[LinkState, LinkedPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows: Iterator[LinkRec], state: GroupState[LinkState]) =>
          var st = state.getOption.getOrElse(LinkState(Nil, Nil))
          val out = List.newBuilder[LinkedPair]
          rows.toArray.sortBy(_.id).foreach { r =>
            if (r.side == "A") {
              st.b.foreach { case (bid, bc) =>
                val jw = graft.functions.StringSim.jaroWinkler(r.content, bc)
                if (jw >= minJw) out += LinkedPair(r.id, bid, jw)
              }
              st = st.copy(a = cap(st.a :+ (r.id -> r.content)))
            } else {
              st.a.foreach { case (aid, ac) =>
                val jw = graft.functions.StringSim.jaroWinkler(ac, r.content)
                if (jw >= minJw) out += LinkedPair(aid, r.id, jw)
              }
              st = st.copy(b = cap(st.b :+ (r.id -> r.content)))
            }
          }
          state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** Per-staging-key locks: two concurrent [[staged]] calls for the
    * SAME key in one application would otherwise wipe each other's
    * src/out/ckpt trees mid-query. Different keys get different digests
    * (collision-resistant, not String.hashCode) and so never contend. */
  private val stagingLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Applications whose staging root is deleted when they end. */
  private val cleanedApps = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /**
   * Runs `body` under the lock of `key` with `wiped(name)`: the empty
   * directory `<java.io.tmpdir>/graft-slink/<applicationId>/<digest of
   * key>/<name>`. The directories are FIXED per (application, key) and
   * wiped before each use, so repeated calls in a long-lived session
   * stay bounded at one copy instead of accumulating a fresh temp tree
   * per call; the application's root is deleted when it ends.
   */
  private def staged[T](spark: SparkSession, key: String*)(body: (String => String) => T): T = {
    val sc = spark.sparkContext
    val appRoot = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-slink", sc.applicationId)
    if (cleanedApps.add(sc.applicationId))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          graft.ckpt.Checkpoint.deleteTree(appRoot)
      })
    val digest = graft.ckpt.Checkpoint.fingerprint(key: _*)
    val root = appRoot.resolve(digest)
    def wiped(name: String): String = {
      val p = root.resolve(name)
      graft.ckpt.Checkpoint.deleteTree(p)
      java.nio.file.Files.createDirectories(p)
      p.toString
    }
    stagingLocks.computeIfAbsent(digest, _ => new Object).synchronized(body(wiped))
  }

  /** Driver-query wrapper: stage the keyed records as a file stream,
    * run [[streamingLink]] to completion, read the sink back. Staged
    * per (application, sfDir, minJw, maxPerSide) ([[staged]]). The sink
    * is read back with an explicit schema so a zero-match run
    * (metadata-only sink dir) returns an empty frame instead of failing
    * schema inference.
    */
  def streamLinkPairs(spark: SparkSession, sfDir: String,
                      minJw: Double = 0.9,
                      maxPerSide: Int = Int.MaxValue): DataFrame =
    staged(spark, "slink", sfDir, minJw.toString, maxPerSide.toString) { wiped =>
      import spark.implicits._
      val (srcDir, outDir, ckptDir) = (wiped("src"), wiped("out"), wiped("ckpt"))
      graft.EntryStages.keyed(spark, sfDir)
        .select(col("id"), col("side"), col("content_norm").as("content"),
          col("block_key"))
        .write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream
        .schema("id BIGINT, side STRING, content STRING, block_key STRING")
        .parquet(srcDir)
        .as[LinkRec]
      val q = streamingLink(stream, minJw, maxPerSide).writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.read.schema("idA BIGINT, idB BIGINT, jw DOUBLE").parquet(outDir)
    }
}
