package graft.ckpt

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sim.{RLTransE, TransE}

/**
 * Trained-model save/restore to Parquet — the Spark analogue of the
 * reference's TF `Saver` checkpoints (/root/reference/werl.py:364-374,
 * restored per experiment in /root/reference/tests/test_werl.py:52-59):
 * train once, freeze, and reuse the same embeddings across runs and
 * across JVMs. In-session reuse is already covered by
 * `EntryStages.memoModel`; this adds the cross-session half.
 *
 * Each part of a saved model is a [[Checkpoint.stage]] under `<dir>/`,
 * committed under the caller's fingerprint:
 *   matrices/  (row: bigint, vec: array<float>, name: string),
 *              partitioned by name
 *   vocab/     (rid: bigint, value: string, vidx: bigint)  [RLTransE]
 *   scalars/   (kind: string, loss_by_epoch: array<double>,
 *               max_val_count: int, n_rel: int), one row
 * plus each stage's `<part>._meta.json` commit record. A model is
 * restored only if every one of its parts is committed under one
 * fingerprint; a save that dies part-way leaves a part uncommitted or
 * committed under another fingerprint, so the next restore-or-train
 * retrains. A fingerprint names one model: a part already committed
 * under it is kept, not rewritten.
 *
 * Floats and doubles round-trip bit-exactly through Parquet, so a
 * restored model scores candidate pairs IDENTICALLY to the freshly
 * trained one (asserted by ModelIOSpec). The matrices table is written
 * and read through Spark — model-sized (the same thing that is
 * broadcast for scoring), so the driver-side collect on load costs
 * what every scoring pass already pays.
 */
object ModelIO {

  private val Scalars = "scalars"
  private val RLTransEParts = Seq("matrices", "vocab", Scalars)
  private val TransEParts = Seq("matrices", Scalars)

  private val matSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("row", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  private def saveMatrices(spark: SparkSession, dir: String, fingerprint: String,
                           matrices: Map[String, Array[Array[Float]]]): Unit =
    Checkpoint.stage(spark, dir, "matrices", fingerprint, Seq("name")) {
      val rows = matrices.toSeq.sortBy(_._1).flatMap { case (n, m) =>
        m.indices.map(i => Row(n, i.toLong, m(i)))
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 65536)),
        matSchema)
    }

  private def saveScalars(spark: SparkSession, dir: String, fingerprint: String,
                          kind: String, lossByEpoch: Array[Double],
                          maxValCount: Int = 0, nRel: Int = 0): Unit = {
    import spark.implicits._
    Checkpoint.stage(spark, dir, Scalars, fingerprint) {
      Seq((kind, lossByEpoch, maxValCount, nRel))
        .toDF("kind", "loss_by_epoch", "max_val_count", "n_rel")
    }
  }

  /** The fingerprint every one of `parts` is committed under, if any. */
  private def committedUnder(dir: String, parts: Seq[String]): Option[String] =
    Checkpoint.meta(dir, Scalars).flatMap(_.get("input_fingerprint"))
      .filter(fp => parts.forall(Checkpoint.committed(dir, _, fp).isDefined))

  /** The fingerprint the model saved at `dir` is committed under, if
    * its matrices and scalars are committed under one. */
  def savedFingerprint(dir: String): Option[String] =
    committedUnder(dir, TransEParts)

  /** The committed `parts` of the `kind` model at `dir`, read back, with
    * its named matrices (rows in index order) and its scalars row. */
  private def load(spark: SparkSession, dir: String, kind: String,
                   parts: Seq[String])
      : (String => DataFrame, Map[String, Array[Array[Float]]], Row) = {
    val fp = committedUnder(dir, parts).getOrElse(
      sys.error(s"no $kind model is committed at $dir"))
    def part(p: String): DataFrame =
      spark.read.schema(Checkpoint.committed(dir, p, fp).get).parquet(s"$dir/$p")
    val scalars = part(Scalars).head()
    require(scalars.getAs[String]("kind") == kind,
      s"checkpoint at $dir is not a $kind model")
    val mats = part("matrices").select("name", "row", "vec").collect()
      .groupBy(_.getString(0)).map { case (n, rs) =>
        val m = new Array[Array[Float]](rs.length)
        rs.foreach(r => m(r.getLong(1).toInt) = r.getSeq[Float](2).toArray)
        n -> m
      }
    (part, mats, scalars)
  }

  private def lossOf(scalars: Row): Array[Double] =
    scalars.getAs[Seq[Double]]("loss_by_epoch").toArray

  // ---------------------------------------------------------------- RLTransE

  def saveRLTransE(spark: SparkSession, dir: String, model: RLTransE.Model,
                   fingerprint: String): Unit = {
    import spark.implicits._
    saveMatrices(spark, dir, fingerprint, Map("ent" -> model.ent, "rel" -> model.rel))
    Checkpoint.stage(spark, dir, "vocab", fingerprint) {
      model.vocab.iterator.zipWithIndex.flatMap { case (vm, rid) =>
        vm.iterator.map { case (value, vidx) => (rid.toLong, value, vidx.toLong) }
      }.toSeq.toDF("rid", "value", "vidx")
    }
    saveScalars(spark, dir, fingerprint, "rltranse", model.lossByEpoch,
      model.maxValCount, model.vocab.length)
  }

  def loadRLTransE(spark: SparkSession, dir: String): RLTransE.Model = {
    val (part, mats, scalars) = load(spark, dir, "rltranse", RLTransEParts)
    val vocab = Array.fill(scalars.getAs[Int]("n_rel"))(Map.newBuilder[String, Int])
    part("vocab").select("rid", "value", "vidx").collect().foreach { r =>
      vocab(r.getLong(0).toInt) += (r.getString(1) -> r.getLong(2).toInt)
    }
    RLTransE.Model(mats("ent"), mats("rel"), vocab.map(_.result()),
      scalars.getAs[Int]("max_val_count"), lossOf(scalars))
  }

  /**
   * `Saver.restore`-or-train: reuse the saved model iff every part is
   * committed under `Checkpoint.fingerprint(sfDir, cfg)`; else train
   * (through the in-session memo) and save. Returns the model plus
   * whether it came from disk.
   */
  def rlTransEOrTrain(spark: SparkSession, sfDir: String, ckptDir: String,
                      cfg: RLTransE.Config = RLTransE.Config())
      : (RLTransE.Model, Boolean) = {
    val fp = Checkpoint.fingerprint("rltranse", sfDir, cfg.toString)
    if (committedUnder(ckptDir, RLTransEParts).contains(fp))
      (loadRLTransE(spark, ckptDir), true)
    else {
      val model = RLTransE.train(spark, sfDir, cfg)
      saveRLTransE(spark, ckptDir, model, fp)
      (model, false)
    }
  }

  // ------------------------------------------------------------------ TransE

  def saveTransE(spark: SparkSession, dir: String, model: TransE.Model,
                 fingerprint: String): Unit = {
    saveMatrices(spark, dir, fingerprint,
      Map("ent" -> model.ent, "rel" -> model.rel, "w_rel" -> model.wRel))
    saveScalars(spark, dir, fingerprint, "transe", model.lossByEpoch)
  }

  def loadTransE(spark: SparkSession, dir: String): TransE.Model = {
    val (_, mats, scalars) = load(spark, dir, "transe", TransEParts)
    TransE.Model(mats("ent"), mats("rel"), mats("w_rel"), lossOf(scalars))
  }
}
