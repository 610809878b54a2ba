package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Parquet scan helper for coarse-row-group local tables (optimization
 * guide §2.5, "input skew: one huge unsplittable file ... repartition
 * immediately after the read"): Spark splits a parquet FILE by bytes,
 * but a ROW GROUP is read entirely by the split holding its midpoint —
 * the driver's testdata tables are ONE row group each, so every scan
 * otherwise runs as one task and the scan+derive stage of each query is
 * single-threaded regardless of `local[N]`. (The byte-split count is
 * useless as a signal: `spark.sql.files.minPartitionNum` manufactures
 * >= defaultParallelism splits, all but one of them EMPTY.) So decide
 * from the parquet FOOTERS: when the total row-group count — the true
 * upper bound on scan parallelism — is below the session's default
 * parallelism, round-robin repartition right after the read (a few-MB
 * exchange that unlocks N-way parallelism for everything downstream).
 * On a production table with >= cores row groups the footer probe
 * short-circuits and nothing is paid at scale. Row order changes, but
 * no engine result depends on input order: the only positional id
 * assignment (GraphBuild's dictionary) sorts before zipWithIndex.
 */
object Scan {

  def parquet(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val par = spark.sparkContext.defaultParallelism
    if (rowGroupsBelow(spark, path, par)) df.repartition(par) else df
  }

  /** True iff the path's total parquet row-group count is < `par`.
    * Reads at most `par` footers (driver-side, metadata only); any
    * non-fatal metadata hiccup returns false so the scan is left
    * untouched. */
  private def rowGroupsBelow(spark: SparkSession, path: String,
                             par: Int): Boolean =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      val files =
        if (st.isDirectory)
          fs.listStatus(p).filter { f =>
            f.isFile && f.getLen > 0 && f.getPath.getName.endsWith(".parquet")
          }
        else Array(st)
      // >= par non-empty files means >= par row groups: skip the probe
      if (files.length >= par) return false
      var groups = 0
      var i = 0
      while (i < files.length && groups < par) {
        val in = ParquetFileReader.open(
          HadoopInputFile.fromStatus(files(i), conf))
        try groups += in.getRowGroups.size()
        finally in.close()
        i += 1
      }
      groups < par
    } catch { case NonFatal(_) => false }
}
