package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.JobCount
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.Synth

/**
 * The Spark-job budget of one `Pipeline.run` at sf0.001, in its three
 * modes: no checkpoint, a cold checkpointed run, and a resumed run
 * over the same root. Each run starts from an empty cache, after the
 * once-per-JVM warm in `Synth.records`. A change that cuts jobs lowers
 * its pin; one that adds jobs must say why.
 */
class PipelineJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  /** The summary rows and the Spark jobs of one run, and its
    * `keyed.count()`, taken outside the count. */
  private def counted(ckpt: Option[String]): (Seq[Row], Int, Long) = {
    spark.catalog.clearCache()
    val ((out, rows), jobs) = JobCount(spark.sparkContext) {
      val out = Pipeline.run(spark, sf, ckpt)
      (out, out.summary.collect().toSeq)
    }
    (rows, jobs, out.keyed.count())
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.delete(f); () })
      finally walk.close()
    }

  test("Pipeline.run job budget: no checkpoint, cold checkpoint, resumed") {
    Synth.records(spark, sf)
    val root = Files.createTempDirectory("graft-jobs")
    try {
      val (plain, plainJobs, plainKeyed) = counted(None)
      val (cold, coldJobs, coldKeyed) = counted(Some(root.toString))
      val (resumed, resumedJobs, resumedKeyed) = counted(Some(root.toString))
      info(s"jobs: plain $plainJobs, cold $coldJobs, resumed $resumedJobs")
      assert(cold == plain && resumed == plain)
      // n_records is counted over clusters, one row per keyed record
      for ((rows, keyed) <- Seq(plain -> plainKeyed, cold -> coldKeyed,
                                resumed -> resumedKeyed))
        assert(rows.head.getAs[Long]("n_records") == keyed)
      assert(plainJobs <= 18, s"no checkpoint: $plainJobs jobs")
      assert(coldJobs <= 20, s"cold checkpoint: $coldJobs jobs")
      assert(resumedJobs <= 5, s"resumed: $resumedJobs jobs")
    } finally deleteRecursively(root)
  }
}
