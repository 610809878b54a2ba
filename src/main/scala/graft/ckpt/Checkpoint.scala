package graft.ckpt

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.Observed

/**
 * Per-stage Parquet checkpoints with lineage + metrics, making runs
 * resumable mid-pipeline (north rule; the reference's analogue is the
 * all-or-nothing whole-graph text cache with fallback-to-rebuild,
 * /root/reference/ER/model.py:28-59, upgraded here to per-stage,
 * partition-tagged Parquet).
 *
 * Layout: `<root>/<stage>/` holds the stage output plus lineage
 * columns `_stage`, `_run_id`, `_part_id`, `_input_fingerprint`.
 * `<root>/<stage>._meta.json` is the stage's commit record: stage,
 * run id, input fingerprint, row count, wall time and the read-back
 * schema (DDL: the data columns, then the `partitionBy` columns, as a
 * hive-layout read returns them; no lineage columns).
 *
 * Commit order of a (re)computed stage:
 *  1. delete the meta, so a run that dies from here on leaves no
 *     record that serves the directory it was overwriting;
 *  2. write the data; Spark's committer writes `<dir>/_SUCCESS` last;
 *  3. write the meta to a temp file and move it into place atomically.
 *
 * A stage is served iff it is [[committed]]: its meta parses whole,
 * carries the matching fingerprint and a schema, and `<dir>/_SUCCESS`
 * exists; anything else (a failed write, a truncated meta, a meta
 * without a schema) is recomputed. Both paths return
 * `spark.read.schema(s).parquet(dir)`, so no footer job infers the
 * schema, and the row count is observed on the write
 * ([[graft.Observed]]), not taken by a read-back count.
 *
 * This is the one commit protocol on disk: [[ModelIO]] saves each part
 * of a trained model as a stage of its own.
 */
object Checkpoint {

  final case class StageResult(df: DataFrame, fromCache: Boolean)

  /** Deletes `root` and everything under it, if it exists: a
    * checkpoint root, a staging tree or a spec's temp root. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)
      finally walk.close()
    }

  private def metaPath(root: String, stage: String) =
    Paths.get(s"$root/$stage._meta.json")

  // the flat-JSON meta: one object of string fields, nothing else
  private val Field = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
  private val WholeMeta = raw"""\{\s*(?:$Field(?:\s*,\s*$Field)*)?\s*\}""".r

  /** The commit record of a stage (stage, run_id, input_fingerprint,
    * rows, wall_ms, schema), if a whole one is on disk. */
  def meta(root: String, stage: String): Option[Map[String, String]] =
    Try(Files.readString(metaPath(root, stage)).trim).toOption
      .filter(WholeMeta.matches)
      .map(txt => Field.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap)

  private def writeMeta(root: String, stage: String,
                        fields: Map[String, String]): Unit = {
    // `meta`'s flat-JSON reader cannot round-trip these characters, so
    // reject them loudly here instead of silently corrupting the
    // fingerprint gate later
    fields.foreach { case (k, v) =>
      require(!(k + v).exists(c => c == '"' || c == '\\' || c < ' '),
        s"checkpoint meta field $k contains characters the flat-JSON " +
          s"reader cannot round-trip: $v")
    }
    val json = fields.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")
    val tmp = Paths.get(s"$root/$stage._meta.json.tmp-${fields("run_id")}")
    Files.writeString(tmp, json)
    Files.move(tmp, metaPath(root, stage), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The schema to read a committed stage back with, if `stage` is
    * committed under `fingerprint`. */
  def committed(root: String, stage: String,
                fingerprint: String): Option[StructType] =
    meta(root, stage)
      .filter(_.get("input_fingerprint").contains(fingerprint))
      .flatMap(_.get("schema"))
      .filter(_ => Files.exists(Paths.get(s"$root/$stage/_SUCCESS")))
      .flatMap(ddl => Try(StructType.fromDDL(ddl)).toOption)

  /** The columns a hive-layout read of `data` written with
    * `partitionBy` returns, in its order, all nullable as file reads
    * are. */
  private def readBackSchema(data: StructType,
                             partitionBy: Seq[String]): StructType = {
    val ordered = data.fields.filterNot(f => partitionBy.contains(f.name)) ++
      partitionBy.map(data(_))
    StructType(ordered.map(f => StructField(f.name, f.dataType)))
  }

  /**
   * Run `compute` through the checkpoint: serve the stage when it is
   * committed under `inputFingerprint`; else compute, persist with
   * lineage columns, and commit its meta. The returned DataFrame always
   * reads from the checkpoint (stable lineage for downstream stages).
   *
   * @param partitionBy Iceberg-style partition columns for the stage
   *                    output (hive layout); downstream reads with
   *                    filters on these columns prune whole partitions
   *                    (verified by PlanSpec).
   */
  def stage(spark: SparkSession, root: String, stageName: String,
            inputFingerprint: String, partitionBy: Seq[String] = Nil)
           (compute: => DataFrame): StageResult = {
    val dir = s"$root/$stageName"
    committed(root, stageName, inputFingerprint) match {
      case Some(schema) =>
        StageResult(spark.read.schema(schema).parquet(dir), fromCache = true)
      case None =>
        Files.createDirectories(Paths.get(root))
        Files.deleteIfExists(metaPath(root, stageName))
        val runId = java.util.UUID.randomUUID().toString
        val t0 = System.nanoTime()
        val data = compute
        val schema = readBackSchema(data.schema, partitionBy)
        val out = data
          .withColumn("_stage", lit(stageName))
          .withColumn("_run_id", lit(runId))
          .withColumn("_part_id", spark_partition_id())
          .withColumn("_input_fingerprint", lit(inputFingerprint))
        val (_, nRows) = Observed.rows(out) { o =>
          val writer = o.write.mode("overwrite")
          (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
           else writer).parquet(dir)
        }
        val wallMs = (System.nanoTime() - t0) / 1000000
        writeMeta(root, stageName, Map(
          "stage" -> stageName,
          "run_id" -> runId,
          "input_fingerprint" -> inputFingerprint,
          "rows" -> nRows.toString,
          "wall_ms" -> wallMs.toString,
          "schema" -> schema.toDDL))
        StageResult(spark.read.schema(schema).parquet(dir), fromCache = false)
    }
  }

  /** Deterministic fingerprint of stage inputs (paths + config). */
  def fingerprint(parts: String*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    java.util.HexFormat.of().formatHex(
      md.digest(parts.mkString("\u0000").getBytes("UTF-8"))).take(16)
  }
}
