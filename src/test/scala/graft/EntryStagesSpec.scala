package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `ckpt_lineage` reports the recorded row count of each checkpointed
  * stage and leaves no checkpoint root behind. */
class EntryStagesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = SparkTestSession.sf0001

  test("ckpt_lineage rows at sf0.001, and its root is deleted") {
    import spark.implicits._
    val root = EntryStages.ckptLineageRoot(spark, sf)
    val rows = EntryStages.ckptLineage(spark, sf).as[(String, Long)].collect().toSeq
    assert(rows == Seq("candidates" -> 14863L, "clusters" -> 2833L,
      "keyed" -> 2833L, "scored" -> 14863L))
    assert(!Files.exists(root), s"$root is left behind")
    // the rows are memoized: a second call reads no checkpoint
    assert(EntryStages.ckptLineage(spark, sf).as[(String, Long)].collect().toSeq == rows)
    assert(!Files.exists(root))
  }
}
