package graft

import org.apache.spark.JobCount
import org.scalatest.funsuite.AnyFunSuite

/**
 * Focused spec for the round-6 scan-parallelism fix
 * ([[graft.sources.Scan.parquet]]): a single-row-group local table must
 * come back repartitioned to the session's default parallelism (the raw
 * scan would otherwise read the whole row group in ONE task, whatever
 * the byte-split count says), and the row multiset must be identical to
 * the plain read. The schema comes from the footer on the driver: the
 * one Spark would infer, without a Spark job.
 */
class ScanSpec extends AnyFunSuite {

  test("single-row-group parquet is repartitioned to default parallelism") {
    val spark = SparkTestSession.spark
    val path = s"${SparkTestSession.sf0001}/orders.parquet"
    val scanned = graft.sources.Scan.parquet(spark, path)
    assert(scanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("repartitioned scan returns the identical row multiset") {
    val spark = SparkTestSession.spark
    val path = s"${SparkTestSession.sf0001}/orders.parquet"
    val plain = spark.read.parquet(path)
    val scanned = graft.sources.Scan.parquet(spark, path)
    assert(scanned.count() == plain.count())
    assert(scanned.exceptAll(plain).isEmpty,
      "scanned has rows the plain read does not")
    assert(plain.exceptAll(scanned).isEmpty,
      "plain read has rows the scanned path does not")
  }

  test("every table's schema is the inferred one, and defining the scan submits no job") {
    val spark = SparkTestSession.spark
    val tables = new java.io.File(SparkTestSession.sf0001).listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
    assert(tables.nonEmpty)
    for (path <- tables) {
      val (scanned, jobs) = JobCount(spark.sparkContext)(graft.sources.Scan.parquet(spark, path))
      assert(jobs == 0, s"$path: $jobs jobs")
      assert(scanned.schema == spark.read.parquet(path).schema, path)
    }
  }
}
