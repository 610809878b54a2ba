package graft

import org.apache.spark.JobCount
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.Synth
import graft.pipe.Blocking
import graft.sim.Scorer

/**
 * The Spark-job budget of one `Pipeline.run` at sf0.001, in its three
 * modes: no checkpoint, a cold checkpointed run, and a resumed run
 * over the same root. Each run starts from an empty cache. A change
 * that cuts jobs lowers its pin; one that adds jobs must say why.
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

  test("Pipeline.run job budget: no checkpoint, cold checkpoint, resumed") {
    TempRoot("graft-jobs") { root =>
      val (plain, plainJobs, plainKeyed) = counted(None)
      val (cold, coldJobs, coldKeyed) = counted(Some(root))
      val (resumed, resumedJobs, resumedKeyed) = counted(Some(root))
      info(s"jobs: plain $plainJobs, cold $coldJobs, resumed $resumedJobs")
      assert(cold == plain && resumed == plain)
      // n_records is counted over clusters, one row per keyed record
      for ((rows, keyed) <- Seq(plain -> plainKeyed, cold -> coldKeyed,
                                resumed -> resumedKeyed))
        assert(rows.head.getAs[Long]("n_records") == keyed)
      assert(plainJobs <= 17, s"no checkpoint: $plainJobs jobs")
      assert(coldJobs <= 19, s"cold checkpoint: $coldJobs jobs")
      assert(resumedJobs <= 5, s"resumed: $resumedJobs jobs")
    }
  }

  test("defining the records, keyed, candidates and scored frames submits no Spark job") {
    val (_, jobs) = JobCount(spark.sparkContext) {
      val keyed = Pipeline.keyRecords(Synth.records(spark, sf))
      Scorer.scoreDF(Blocking.candidates(keyed), Scorer.broadcastProjection(spark))
    }
    assert(jobs == 0, s"$jobs jobs")
  }
}
