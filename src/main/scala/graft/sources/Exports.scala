package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.EntryStages

/**
 * Result-export surfaces mirroring the reference's sinks:
 *
 * - human-readable scored pairs: each exported pair carries BOTH full
 *   records, not just ids (/root/reference/common.py:368-399
 *   export_human_readable_results);
 * - embedding TSV sink (/root/reference/common.py export_embeddings):
 *   one row per embedded label, tab-separated, vector as a
 *   comma-joined list.
 */
object Exports {

  /** Join both sides' full records onto a (idA, idB, dist) pair set. */
  def humanReadable(spark: SparkSession, sfDir: String,
                    pairs: DataFrame): DataFrame = {
    val recs = EntryStages.records(spark, sfDir)
    def side(idCol: String, suffix: String) =
      recs.select(col("id").as(idCol),
        col("repo").as(s"repo_$suffix"), col("path").as(s"path_$suffix"),
        col("commit").as(s"commit_$suffix"),
        col("content").as(s"content_$suffix"))
    pairs
      .join(side("idA", "a"), "idA")
      .join(side("idB", "b"), "idB")
  }

  /** Top-k false negatives WITH both full records. */
  def topkFnReadable(spark: SparkSession, sfDir: String): DataFrame =
    humanReadable(spark, sfDir, EntryStages.topkFn(spark, sfDir))

  /** Top-k false positives WITH both full records. */
  def topkFpReadable(spark: SparkSession, sfDir: String): DataFrame =
    humanReadable(spark, sfDir, EntryStages.topkFp(spark, sfDir))

  /**
   * RLTransE value-embedding table in the reference's export shape:
   * (relation, value, vec) with the vector comma-joined
   * (common.py export_embeddings writes label + embedding rows).
   */
  def rltranseEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val model = graft.sim.RLTransE.train(spark, sfDir)
    val rels = graft.graph.GraphBuild.Relations
    val rows = for {
      (rel, rid) <- rels.zipWithIndex
      (value, vidx) <- model.vocab(rid).toSeq.sortBy(_._2)
    } yield (rel, value,
      model.ent(model.offset(rid, vidx)).mkString(","))
    rows.toDF("relation", "value", "vec")
  }

  /** TSV sink: label/vector rows as tab-separated text — the
    * engine analogue of the reference's .tsv embedding dumps. */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("sep", "\t").option("header", "true")
      .csv(path)
}
