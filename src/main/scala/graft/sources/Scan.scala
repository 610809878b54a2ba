package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

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
 * short-circuits and nothing is paid at scale. The first footer also
 * gives the read schema, so defining the frame submits no Spark job.
 * Row order changes, but no engine result depends on input order: the
 * only positional id assignment (GraphBuild's dictionary) sorts before
 * zipWithIndex.
 */
object Scan {

  def parquet(spark: SparkSession, path: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    val (schema, groups) = footers(spark, path, par)
    val df = schema.fold(spark.read)(spark.read.schema(_)).parquet(path)
    if (groups < par) df.repartition(par) else df
  }

  /** The schema of the path's first data file, read from its footer as
    * Spark's inference without schema merging reads it, but on the
    * driver: inference would submit a Spark job each time the frame is
    * defined. And the path's total row-group count, counted up to
    * `par`. Reads at most `par` footers (metadata only); any non-fatal
    * metadata hiccup gives `(None, par)`, so Spark infers the schema
    * and the scan is left untouched. */
  private def footers(spark: SparkSession, path: String,
                      par: Int): (Option[StructType], Int) =
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
      val read = files.iterator.map { f =>
        val in = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try new Footer(f.getPath, in.getFooter) finally in.close()
      }
      if (!read.hasNext) return (None, par)
      val first = read.next()
      val schema = ParquetFileFormat.readSchemaFromFooter(first,
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      // >= par non-empty files means >= par row groups: skip the probe
      var groups = if (files.length >= par) par else first.getParquetMetadata.getBlocks.size
      while (groups < par && read.hasNext)
        groups += read.next().getParquetMetadata.getBlocks.size
      (Some(schema), groups)
    } catch { case NonFatal(_) => (None, par) }
}
