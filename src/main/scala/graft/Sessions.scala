package graft

import org.apache.spark.sql.SparkSession

/**
 * The local session every dev main builds ([[BenchExtra]], `RunOne`,
 * `RunEntry`): [[Bench]]'s session shape plus the
 * [[GraftExtensions]] SQL surface, so any registered query — `LINK
 * RECORDS FROM` included — runs as it does under [[Verify]]. The
 * frozen [[Bench]] and [[Verify]] build their own.
 */
object Sessions {

  /** A `local[N]` session, N = `SPARK_GRAFT_CPUS`, else every core of
   * the host. */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      // pair scoring is CPU-bound per row, not byte-bound: AQE's
      // byte-based coalescing would squeeze the scorer onto a couple
      // of tasks, so keep the shuffle width explicit
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local testdata is one parquet file per table; split it so the
      // scan+normalize stage parallelizes like a many-file prod table
      .config("spark.sql.files.maxPartitionBytes", s"${512 * 1024}")
      .config("spark.sql.files.openCostInBytes", "65536")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
