package graft

import org.apache.spark.sql.SparkSession

/**
 * The local session every main builds but [[Verify]] ([[Bench]] and
 * its probe forks, [[BenchExtra]], `RunOne`, `RunEntry`): an explicit
 * shuffle width, no AQE coalescing, UTC, split single-file parquet
 * scans, plus the [[GraftExtensions]] SQL surface, so any registered
 * query — `LINK RECORDS FROM` included — runs as it does under
 * [[Verify]], which builds its own.
 */
object Sessions {

  /** The local width: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[N]` session, N = [[cpus]]. */
  def local(): SparkSession = {
    val n = cpus
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", (n * 2).toString)
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
