package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.storage.BlockId

import graft.Pipeline

/**
 * JVM side of the benchmark (run.py is the entry point and documents
 * the workloads). One process, one `local[cores]` session. Set-up is
 * the session plus one untimed warm job on a small input, made the
 * way the timed jobs are made; then
 *
 *  - `run`:   jobs back to back through `Pipeline.run` until
 *             `--seconds` have passed (closed loop, one client);
 *  - `trace`: the traced composition of [[Trace]].
 *
 * Every mode writes one JSON object to `--out`; run.py checks the
 * summaries and turns the raw timings into metrics.
 */
object Main {

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  /** The session every mode uses. Scratch space stays under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", s"${512 * 1024}")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The one-row `Pipeline.run` summary as column -> value. */
  def summaryOf(out: Pipeline.Outputs): Map[String, Any] = {
    val r: Row = out.summary.collect().head
    r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /**
   * Bytes of cached RDD blocks held in memory, and their peak since the
   * last [[mark]]. The peak is what one job holds while it runs; it
   * stays above zero even if a later version releases its cache when
   * the job ends. Read only after [[Bus.drain]].
   */
  final class CacheWatch extends SparkListener {
    private val held = scala.collection.mutable.HashMap[BlockId, Long]()
    private var total = 0L
    private var peak = 0L

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        total += b.memSize - held.getOrElse(b.blockId, 0L)
        if (b.memSize > 0) held(b.blockId) = b.memSize else held.remove(b.blockId)
        peak = math.max(peak, total)
      }
    }

    /** Restarts the peak; returns the bytes held now. */
    def mark(): Long = synchronized { peak = total; total }
    def peakBytes: Long = synchronized(peak)
  }

  def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  /** One timed job: a cold `Pipeline.run` (and, with a checkpoint
    * root, the resumed run over the same root). */
  def job(spark: SparkSession, dir: String, ckpt: Option[String]): Map[String, Any] = {
    ckpt.foreach(deleteTree)
    val t0 = System.nanoTime()
    val cold = summaryOf(Pipeline.run(spark, dir, ckpt))
    val wall = secondsSince(t0)
    ckpt match {
      case None => Map("dir" -> dir, "wall_s" -> wall, "summary" -> cold)
      case Some(root) =>
        val bytes = dirBytes(root)
        val t1 = System.nanoTime()
        val resumed = summaryOf(Pipeline.run(spark, dir, ckpt))
        val resumeWall = secondsSince(t1)
        deleteTree(root)
        Map("dir" -> dir, "wall_s" -> wall, "summary" -> cold,
          "ckpt_bytes" -> bytes, "resume_s" -> resumeWall,
          "resume_summary" -> resumed)
    }
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    // wall-clock start of the process as run.py saw it (epoch ms), so
    // set-up time includes JVM start and class loading
    val t0Ms = o("t0-ms").toLong
    val work = o("work")
    val out = Paths.get(o("out"))
    val spark = session(o("cores").toInt, work)
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3
    // the warm job takes the timed jobs' own path (checkpoint writes and
    // the resumed run included), so the first timed job starts warm
    val tw = System.nanoTime()
    val warm = job(spark, o("warm"), o.get("ckpt"))
    val warmS = secondsSince(tw)
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    val setup = Map("session_s" -> sessionS, "warm_s" -> warmS,
      "setup_s" -> setupS, "warm" -> warm)

    val result: Map[String, Any] = o("mode") match {
      case "run" =>
        val inputs = o("inputs").split(",").toSeq
        val ckpt = o.get("ckpt")
        val seconds = o("seconds").toDouble
        val watch = new CacheWatch
        val sc = spark.sparkContext
        sc.addSparkListener(watch)
        val jobs = ArrayBuffer[Map[String, Any]]()
        val start = System.nanoTime()
        var i = 0
        while (i == 0 || secondsSince(start) < seconds) {
          val dir = inputs(i % inputs.size)
          Bus.drain(sc)
          val before = watch.mark()
          jobs += (try job(spark, dir, ckpt) catch {
            case e: Throwable => Map("dir" -> dir, "error" -> e.toString)
          })
          Bus.drain(sc)
          jobs(i) = jobs(i) + ("cached_bytes" -> (watch.peakBytes - before))
          i += 1
        }
        setup ++ Map("jobs" -> jobs.toSeq, "measured_s" -> secondsSince(start))
      case "trace" =>
        setup ++ Trace.run(spark, o)
      case m => sys.error(s"unknown mode $m")
    }
    spark.stop()
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.write(result))
  }
}

/** Minimal JSON writer for the nested maps and sequences above. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: java.lang.Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
