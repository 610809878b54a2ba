package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.graph.GraphBuild
import graft.pipe.Splits

/**
 * RLTransE — the reference's flagship embedding method (census F1
 * 0.95): TransE trained over the VALUE-EVOLUTION GRAPH, with one value
 * vocabulary per relation packed into a single embedding table by
 * offset indexing `id = rel * maxValCount + valIndex`
 * (/root/reference/VEG/rltranse.py:59-84), per-relation negative
 * sampling (corrupted tails drawn from the SAME relation's value range,
 * /root/reference/VEG/rltranse.py:33-53 + common.py get_negative_samples),
 * and per-field pair scoring (/root/reference/tests/test_census_rl.py:63-103):
 *
 *   field distance = 0                      if val_a == val_b
 *                  = 1                      if either value missing
 *                                           from the TRAIN vocabulary
 *                  = |cosine_dist(emb(val_a) + rel_r, emb(val_b))|
 *   pair distance  = sum over scored fields
 *
 * Spark shape: the trainer is [[TransE.train]] (broadcast model, one
 * gradient shuffle per epoch); vocabularies are dictionary DataFrames
 * reduced to a model-sized broadcast (they ARE the model's row index);
 * scoring is one mapPartitions pass over the test candidate pairs with
 * field values attached by join.
 */
object RLTransE {

  /**
   * @param maxDriverTriples upper bound on the DISTINCT value-pair
   *        (offset-triple) count [[trainOn]] will localize for the
   *        driver-side SGD. The model is vocabulary-sized by design
   *        (offset value tables) — if a dataset's per-field value
   *        cardinality approaches the record count, the premise is
   *        broken and training must fail loudly instead of OOMing the
   *        driver. Documented in COVERAGE.md.
   */
  final case class Config(
      dim: Int = 32, epochs: Int = 200, lr: Double = 0.1,
      margin: Double = 1.0, negRate: Int = 8, batchSize: Int = 128,
      seed: Long = 42L, maxDriverTriples: Long = 4000000L)

  /** Fields scored per pair: every relation except the blocking key
    * (equal by construction within a block), mirroring the reference's
    * field_relation_map which omits the blocking field
    * (/root/reference/tests/test_census_rl.py:55-62). */
  final val ScoredRels: Seq[String] = GraphBuild.Relations.filter(_ != "block")

  final case class Model(
      ent: Array[Array[Float]], rel: Array[Array[Float]],
      vocab: Array[Map[String, Int]], maxValCount: Int,
      lossByEpoch: Array[Double]) {
    /** Packed embedding row for (relation, value), if in vocabulary. */
    def valueRow(rid: Int, value: String): Option[Array[Float]] =
      vocab(rid).get(value).map(v => ent(rid * maxValCount + v))
  }

  /** Per-relation value dictionary over the TRAIN VEG graph:
    * (r, value, vidx) with dense per-relation indices. */
  def vocabulary(vegTrain: DataFrame): DataFrame = {
    val vals = vegTrain.select(col("r"), col("val_a").as("value"))
      .union(vegTrain.select(col("r"), col("val_b").as("value")))
      .distinct()
    vals.withColumn("vidx",
      (row_number().over(Window.partitionBy("r").orderBy("value")) - 1)
        .cast("long"))
  }

  /** Train-once per (session, sfDir, cfg): every consumer of the
    * standard fit (eval, embedding export, WERL, grid cells with the
    * same cfg) reuses one model — the reference's frozen-Saver-model
    * semantics (/root/reference/werl.py:364-374). [[trainOn]] with
    * custom triples (SEEA's per-round retrain) stays uncached. */
  def train(spark: SparkSession, sfDir: String,
            cfg: Config = Config()): Model =
    graft.EntryStages.memoModel(spark, sfDir, s"rltranse:$cfg") {
      trainOn(spark, GraphBuild.vegTrainTriples(spark, sfDir), cfg)
    }

  /** Batch-variant config: [[TransE.Config]] with relation-row
    * normalization (the reference normalizes every relation lookup,
    * /root/reference/VEG/rltranse.py:93-98); per-relation tail ranges
    * are attached by [[trainBatch]]. */
  final val BatchCfg: TransE.Config =
    TransE.Config(dim = 16, epochs = 30, negRate = 4, normalizeRel = true)

  /**
   * DISTRIBUTED batch trainer over the offset-indexed VEG triples —
   * the 100-TB path for the RLTransE family. The flagship [[trainOn]]
   * mirrors the reference's per-triple sequential minibatch SGD
   * (driver-side over the model-sized value-pair graph, guarded), which
   * is inherently order-dependent; this variant trains the SAME offset
   * value tables with [[TransE.train]] — broadcast model, ONE gradient
   * shuffle per epoch, integer micro-unit reduction, per-relation
   * negative tail ranges — so it is fully distributed AND bit-exactly
   * replayed by DuckDB ([[graft.oracle.OracleSqlRLTransEBatch]]).
   * Quality lands below the sequential flagship (batch hinge vs
   * per-triple updates) but the planted value translations are still
   * learned (spec band).
   */
  def trainBatch(spark: SparkSession, sfDir: String,
                 cfg: TransE.Config = BatchCfg): Model =
    graft.EntryStages.memoModel(spark, sfDir, s"rltranse_batch:$cfg") {
      val nRel = GraphBuild.Relations.size
      val vegTrain = GraphBuild.vegTrainTriples(spark, sfDir).persist()
      val vocabDf = vocabulary(vegTrain).persist()
      val vocabCount = vocabDf.count()
      val bound = Config().maxDriverTriples
      require(vocabCount <= bound,
        s"RLTransE value vocabulary has $vocabCount rows, over the " +
          s"model bound ($bound) — see trainOn's guard")
      val vocabRows = vocabDf.collect()
        .map(r => (r.getLong(0).toInt, r.getString(1), r.getLong(2).toInt))
      val vocab = Array.tabulate(nRel) { rid =>
        vocabRows.filter(_._1 == rid).map(v => v._2 -> v._3).toMap
      }
      val counts = vocab.map(_.size)
      val maxVal = counts.max
      val ranges = Array.tabulate(nRel)(rid =>
        (rid.toLong * maxVal, counts(rid).toLong))
      val nEnt = nRel * maxVal
      val va = vocabDf.select(col("r"), col("value").as("val_a"),
        col("vidx").as("ia"))
      val vb = vocabDf.select(col("r"), col("value").as("val_b"),
        col("vidx").as("ib"))
      val triples = vegTrain
        .join(va, Seq("r", "val_a")).join(vb, Seq("r", "val_b"))
        .select(
          (col("r") * maxVal + col("ia")).cast("long").as("h"),
          (col("r") * maxVal + col("ib")).cast("long").as("t"),
          col("r").cast("long"))
        .withColumn("idx", TransE.packedIdx(nEnt.toLong, nRel.toLong))
      val m = TransE.train(spark, triples, nEnt, nRel,
        cfg.copy(tailRanges = Some(ranges)))
      vegTrain.unpersist(); vocabDf.unpersist()
      Model(m.ent, m.rel, vocab, maxVal, m.lossByEpoch)
    }

  /** The trained batch model MATRICES themselves, at the full- and
    * half-epochs readouts (the grid_werl epochs axis), as raw Float32
    * rows — the strongest possible anchor for the batch family: every
    * arithmetic step of the replay (+, -, *, /, sqrt, signum over
    * micro-integer gradients) is IEEE-correctly-rounded in both
    * engines, so the DuckDB training chain reproduces these floats
    * BIT-FOR-BIT with no quantization needed. Downstream oracles
    * (rltranse_batch_fields, logistic_rltranse_batch_feats) stage on
    * this dump instead of each re-replaying the training chain.
    * Rows: ('ent', epochs, rid * maxValCount + vidx, f0..f{dim-1})
    * for every vocabulary slot (slots past a relation's value count
    * are initialized but never read — not part of the contract), plus
    * ('rel', epochs, rid, ...) per relation. */
  def batchModelDump(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dim = BatchCfg.dim
    val rows = Seq(BatchCfg.epochs / 2, BatchCfg.epochs).flatMap { ep =>
      val m = trainBatch(spark, sfDir, BatchCfg.copy(epochs = ep))
      val ent = for {
        rid <- m.vocab.indices
        vidx <- m.vocab(rid).values.toSeq.sorted
      } yield Row.fromSeq(
        Seq("ent", ep.toLong, rid.toLong * m.maxValCount + vidx) ++
          m.ent(rid * m.maxValCount + vidx).toSeq)
      val rel = m.rel.indices.map(rid => Row.fromSeq(
        Seq("rel", ep.toLong, rid.toLong) ++ m.rel(rid).toSeq))
      ent ++ rel
    }
    val schema = StructType(
      Seq(StructField("kind", StringType, nullable = false),
        StructField("epochs", LongType, nullable = false),
        StructField("row_id", LongType, nullable = false)) ++
        (0 until dim).map(d =>
          StructField(s"f$d", FloatType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Summary row for the batch variant — same shape as [[eval]], with
    * the mean st-field distance accumulated ORDER-FREE (per-pair
    * micro-quantized integers summed, then one exact division) so the
    * DuckDB replay reproduces it bit-for-bit. */
  def evalBatch(spark: SparkSession, sfDir: String,
                cfg: TransE.Config = BatchCfg): DataFrame = {
    import spark.implicits._
    val model = trainBatch(spark, sfDir, cfg)
    // per-field distances on the mq6 grid (floor(x*1e6 + 0.5)/1e6) —
    // the rltranse_batch_fields anchor's lattice, so the DuckDB twin
    // can re-derive this whole summary from the VERIFIED anchor dump
    // instead of replaying the ~40 s training chain a second time
    // (same staging discipline as the werl_batch_* oracles); the sum
    // below then adds identical doubles in identical ScoredRels order
    // in both engines
    val fieldCols = ScoredRels.map(r =>
      (floor(col(s"f_$r") * 1e6 + lit(0.5)) / 1e6).as(s"f_$r"))
    val all = fieldScores(spark, sfDir, model, testOnly = false)
      .select(col("idA") +: col("idB") +: col("label") +:
        col("split_a") +: col("split_b") +: fieldCols: _*)
      .withColumn("dist",
        ScoredRels.map(r => col(s"f_$r")).reduce(_ + _))
      .persist()
    val theta = Splits.theta(all, col("dist"), col("label"))
    val m = Splits.testEval(all, col("dist"), col("label"), theta).head()
    val st = Splits.test(all).filter(col("label") === 1)
      .agg(sum(floor(col("f_st") * 1e6 + lit(0.5)).cast("long")).as("s"),
        count(lit(1)).as("n")).head()
    val stMicros =
      if (st.getLong(1) == 0) 0L
      else math.floor(st.getLong(0).toDouble / st.getLong(1) + 0.5).toLong
    all.unpersist()
    Seq((cfg.dim.toLong, cfg.epochs.toLong, theta,
      m.getAs[Double]("f1"), m.getAs[Double]("precision"),
      m.getAs[Double]("recall"), m.getAs[Double]("mrr"), stMicros))
      .toDF("dim", "epochs", "theta", "f1", "precision", "recall", "mrr",
        "tp_st_dist_micros")
  }

  /** Train over an explicit VEG triple set (val_a, val_b, r, n). */
  def trainOn(spark: SparkSession, veg: DataFrame,
              cfg: Config = Config()): Model = {
    val nRel = GraphBuild.Relations.size
    val vegTrain = veg.persist()
    val vocabDf = vocabulary(vegTrain).persist()
    // the dictionary IS the model's row index: model-sized by
    // construction, so collecting it costs what broadcasting the
    // embedding matrix already costs — GUARDED: if the value
    // vocabulary is data-sized (per-field cardinality ~ record count),
    // the offset-table premise is broken and we fail loudly here
    // instead of OOMing the driver on the collect below.
    val vocabCount = vocabDf.count()
    require(vocabCount <= cfg.maxDriverTriples,
      s"RLTransE value vocabulary has $vocabCount rows, over the " +
        s"driver-side model bound (${cfg.maxDriverTriples}): per-field " +
        "value cardinality is data-sized, so the offset-value-table " +
        "model does not apply — raise Config.maxDriverTriples only if " +
        "the driver heap is sized for it")
    val vocabRows = vocabDf.collect()
      .map(r => (r.getLong(0).toInt, r.getString(1), r.getLong(2).toInt))
    val vocab = Array.tabulate(nRel) { rid =>
      vocabRows.filter(_._1 == rid).map(v => v._2 -> v._3).toMap
    }
    val counts = vocab.map(_.size)
    val maxVal = counts.max
    val tailRanges = Array.tabulate(nRel)(rid =>
      (rid.toLong * maxVal, counts(rid).toLong))

    // Offset-indexed triples over the DISTINCT value-pair graph —
    // vocab-pair-sized (the evolution structure itself), NOT
    // data-sized: Spark distributes the heavy part (deriving the graph
    // from all pairs, and later scoring all candidate pairs); the
    // model-sized SGD loop runs driver-side with the reference's own
    // mini-batch scheme (batchSize 128, lr 0.1,
    // /root/reference/VEG/rltranse.py:22-27), which converges where a
    // full-batch distributed epoch oscillates.
    val va = vocabDf.select(col("r"), col("value").as("val_a"),
      col("vidx").as("ia"))
    val vb = vocabDf.select(col("r"), col("value").as("val_b"),
      col("vidx").as("ib"))
    val tripleDf = vegTrain
      .join(va, Seq("r", "val_a")).join(vb, Seq("r", "val_b"))
      .select(
        (col("r") * maxVal + col("ia")).cast("long").as("h"),
        (col("r") * maxVal + col("ib")).cast("long").as("t"),
        col("r").cast("long"))
      .persist()
    val tripleCount = tripleDf.count()
    require(tripleCount <= cfg.maxDriverTriples,
      s"RLTransE has $tripleCount distinct value-pair triples, over " +
        s"the driver-side SGD bound (${cfg.maxDriverTriples}): the " +
        "evolution graph is data-sized, not vocabulary-sized — raise " +
        "Config.maxDriverTriples only if the driver heap is sized for it")
    val triples = tripleDf
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getLong(2).toInt))
      .sortBy(t => (t._3, t._1, t._2)) // deterministic base order
    tripleDf.unpersist(); vegTrain.unpersist(); vocabDf.unpersist()
    val (ent, rel, losses) = sgd(triples, nRel * maxVal, nRel,
      tailRanges, cfg)
    Model(ent, rel, vocab, maxVal, losses)
  }

  /**
   * Seeded per-triple SGD over the distinct VEG triples with the
   * reference's loss: ONE hinge per triple against the MEAN of its
   * corrupted-tail scores, max(0, ||h+r-t||_1 - mean_j ||h+r-t'_j||_1
   * + margin) with L1 subgradients (/root/reference/VEG/rltranse.py:99-107
   * reduce_mean over the negative axis), corrupted tails drawn from
   * the relation's OWN value range (rltranse.py:33-53), and L2
   * normalization of every touched row after each update — the local
   * analogue of the reference normalizing every lookup
   * (rltranse.py:93-98). Single-threaded and seeded:
   * bit-deterministic.
   */
  private def sgd(triples: Array[(Int, Int, Int)], nEnt: Int, nRel: Int,
                  tailRanges: Array[(Long, Long)],
                  cfg: Config): (Array[Array[Float]], Array[Array[Float]],
                                 Array[Double]) = {
    val rnd = new java.util.Random(cfg.seed)
    val dim = cfg.dim
    val bound = (6.0 / math.sqrt(dim)).toFloat
    def init(n: Int) = Array.fill(n)(
      Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat * bound))
    val ent = init(nEnt); ent.foreach(Embed.l2normalize)
    val rel = init(nRel); rel.foreach(Embed.l2normalize)
    val losses = new Array[Double](cfg.epochs)
    val order = triples.indices.toArray
    val negs = new Array[Int](cfg.negRate)
    val lrF = cfg.lr.toFloat
    var epoch = 0
    while (epoch < cfg.epochs) {
      // Fisher-Yates shuffle (seeded) = the reference's epoch shuffle
      var i = order.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val tmp = order(i); order(i) = order(j); order(j) = tmp
        i -= 1
      }
      var loss = 0.0
      var p = 0
      while (p < order.length) {
        val (h, t, r) = triples(order(p))
        val (base, cnt) = tailRanges(r)
        var nNeg = 0
        var j = 0
        while (j < cfg.negRate) {
          if (cnt > 1) {
            val cand = (base + rnd.nextInt(cnt.toInt)).toInt
            if (cand != t) { negs(nNeg) = cand; nNeg += 1 }
          }
          j += 1
        }
        if (nNeg > 0) {
          val eh = ent(h); val et = ent(t); val er = rel(r)
          var pos = 0.0
          var negMean = 0.0
          var d = 0
          while (d < dim) {
            pos += math.abs(eh(d) + er(d) - et(d)); d += 1
          }
          j = 0
          while (j < nNeg) {
            val en = ent(negs(j))
            var s = 0.0
            d = 0
            while (d < dim) { s += math.abs(eh(d) + er(d) - en(d)); d += 1 }
            negMean += s
            j += 1
          }
          negMean /= nNeg
          val l = pos - negMean + cfg.margin
          if (l > 0) {
            loss += l
            val inv = 1.0f / nNeg
            d = 0
            while (d < dim) {
              val sp = math.signum(eh(d) + er(d) - et(d)).toFloat
              var snSum = 0.0f
              j = 0
              while (j < nNeg) {
                val en = ent(negs(j))
                val sn = math.signum(eh(d) + er(d) - en(d)).toFloat * inv
                en(d) -= lrF * sn // negative tail pushed AWAY from h+r
                snSum += sn
                j += 1
              }
              eh(d) -= lrF * (sp - snSum)
              er(d) -= lrF * (sp - snSum)
              et(d) += lrF * sp
              d += 1
            }
            Embed.l2normalize(eh); Embed.l2normalize(et)
            Embed.l2normalize(er)
            j = 0
            while (j < nNeg) { Embed.l2normalize(ent(negs(j))); j += 1 }
          }
        }
        p += 1
      }
      losses(epoch) = loss
      epoch += 1
    }
    (ent, rel, losses)
  }

  /**
   * Per-field translated-cosine distances for candidate pairs:
   * (idA, idB, label, f_<rel>...) — one column per scored field. The
   * building block for [[pairScores]] and for WERL's learned
   * per-column weights. With `l1 = true` the per-field metric is the
   * mean elementwise |a + r - b| instead of cosine distance — the
   * reference's unweighted "mean embedding" record distance
   * (/root/reference/werl.py:335-358).
   */
  /** Per-pair per-field distances of the BATCH fit, micro-quantized —
    * the staged-oracle ANCHOR for the werl_batch_* family: the 1e-6
    * grid is exactly the mq6 lattice the WERL channels quantize on, so
    * the DuckDB replay compares these BIGINTs exactly and downstream
    * oracles reconstruct the channels as `micros / 1e6`. */
  /** The staged-oracle anchor: per-pair per-field micro distances of
    * the full batch fit AND of the half-epochs fit (grid_werl's other
    * sweep cell). Exporting both from ONE query lets the DuckDB twin
    * verify the half-trained model as an intermediate readout of the
    * same training chain it already unrolls for the full fit, instead
    * of replaying the chain a second time (~35 s/gate run). The
    * half-epochs model is the SAME memoized fit grid_werl's Scala
    * side scores through ([[graft.ml.Weights.werlBatchEval]]). */
  def batchPairFields(spark: SparkSession, sfDir: String,
                      cfg: TransE.Config = BatchCfg): DataFrame = {
    val model = trainBatch(spark, sfDir, cfg)
    val half = cfg.copy(epochs = cfg.epochs / 2)
    val mHalf = trainBatch(spark, sfDir, half)
    val full = fieldScores(spark, sfDir, model, testOnly = false)
      .select(Seq(col("idA"), col("idB"), col("label"),
        col("split_a"), col("split_b")) ++
        ScoredRels.map(r =>
          floor(col(s"f_$r") * 1e6 + lit(0.5)).cast("long")
            .as(s"f_${r}_micros")): _*)
    val halfDf = fieldScores(spark, sfDir, mHalf, testOnly = false)
      .select(Seq(col("idA"), col("idB")) ++
        ScoredRels.map(r =>
          floor(col(s"f_$r") * 1e6 + lit(0.5)).cast("long")
            .as(s"f_${r}_e${half.epochs}_micros")): _*)
    full.join(halfDf, Seq("idA", "idB"))
  }

  def fieldScores(spark: SparkSession, sfDir: String, model: Model,
                  testOnly: Boolean = true,
                  l1: Boolean = false): DataFrame = {
    import spark.implicits._
    val keyed = graft.EntryStages.keyed(spark, sfDir)
    def sideFields(idCol: String, prefix: String) =
      keyed.select(Seq(col("id").as(idCol)) ++
        ScoredRels.map(r => col(r).as(s"$prefix$r")): _*)
    val base = graft.EntryStages.cand(spark, sfDir)
    val filtered = if (testOnly) Splits.test(base) else base
    val cand = filtered
      .select(col("idA"), col("idB"),
        (col("dni_a") === col("dni_b")).cast("long").as("label"),
        col("split_a"), col("split_b"))
      .join(sideFields("idA", "a_"), "idA")
      .join(sideFields("idB", "b_"), "idB")
    val relIds = ScoredRels.map(GraphBuild.Relations.indexOf).toArray
    val bcast = spark.sparkContext.broadcast(
      (model.ent, model.rel, model.vocab, model.maxValCount))
    val cols = Seq(col("idA"), col("idB"), col("label"),
      col("split_a"), col("split_b")) ++
      ScoredRels.flatMap(r => Seq(col(s"a_$r"), col(s"b_$r")))
    val nMeta = 5
    cand.select(cols: _*).map { row =>
      val (ent, rel, vocab, maxVal) = bcast.value
      val dds = new Array[Double](relIds.length)
      var f = 0
      while (f < relIds.length) {
        val va = row.getString(nMeta + 2 * f)
        val vb = row.getString(nMeta + 2 * f + 1)
        val rid = relIds(f)
        dds(f) =
          if (va == vb) 0.0
          else {
            val ia = vocab(rid).get(va)
            val ib = vocab(rid).get(vb)
            if (ia.isEmpty || ib.isEmpty) 1.0
            else {
              val ea = ent(rid * maxVal + ia.get)
              val eb = ent(rid * maxVal + ib.get)
              val er = rel(rid)
              val shifted = new Array[Float](ea.length)
              var i = 0
              while (i < ea.length) { shifted(i) = ea(i) + er(i); i += 1 }
              if (l1) Embed.l1Mean(shifted, eb)
              else Embed.cosineDistance(shifted, eb)
            }
          }
        f += 1
      }
      (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getString(3), row.getString(4), dds)
    }.toDF("idA", "idB", "label", "split_a", "split_b", "dds")
      .select(Seq(col("idA"), col("idB"), col("label"),
        col("split_a"), col("split_b")) ++
        ScoredRels.zipWithIndex.map { case (r, i) =>
          element_at(col("dds"), i + 1).as(s"f_$r")
        }: _*)
  }

  /**
   * Dim-wide per-field translated DIFFERENCE VECTORS for candidate
   * pairs: (idA, idB, label, split_a, split_b, features) with
   * `features` = the concatenation over [[ScoredRels]] of
   * `val_a + rel - val_b` (dim doubles per field) — the feature matrix
   * of the reference's logistic-over-RLTransE tier
   * (/root/reference/tests/test_logistic_rl_transe.py:60-102).
   *
   * Layout deviation, deliberate: the reference `extend`s only
   * non-equal fields and then `fillna(1)`s the ragged tail, so a
   * pair's feature POSITIONS depend on which earlier fields matched —
   * column j is not the same field across rows. Here the layout is
   * fixed per field: equal values contribute a ZERO block (perfect
   * match, zero translated difference), out-of-vocabulary values the
   * reference's all-ones block, so the classifier sees field-aligned
   * features. Semantics (difference vectors from the frozen fit, ones
   * for missing vocab), not the ragged-concat artifact, are what the
   * tier is about.
   */
  def fieldDiffFeatures(spark: SparkSession, sfDir: String,
                        model: Model): DataFrame = {
    import spark.implicits._
    val keyed = graft.EntryStages.keyed(spark, sfDir)
    def sideFields(idCol: String, prefix: String) =
      keyed.select(Seq(col("id").as(idCol)) ++
        ScoredRels.map(r => col(r).as(s"$prefix$r")): _*)
    val cand = graft.EntryStages.cand(spark, sfDir)
      .select(col("idA"), col("idB"),
        (col("dni_a") === col("dni_b")).cast("long").as("label"),
        col("split_a"), col("split_b"))
      .join(sideFields("idA", "a_"), "idA")
      .join(sideFields("idB", "b_"), "idB")
    val relIds = ScoredRels.map(GraphBuild.Relations.indexOf).toArray
    val bcast = spark.sparkContext.broadcast(
      (model.ent, model.rel, model.vocab, model.maxValCount))
    val cols = Seq(col("idA"), col("idB"), col("label"),
      col("split_a"), col("split_b")) ++
      ScoredRels.flatMap(r => Seq(col(s"a_$r"), col(s"b_$r")))
    val nMeta = 5
    cand.select(cols: _*).map { row =>
      val (ent, rel, vocab, maxVal) = bcast.value
      val dim = rel(0).length
      val out = new Array[Double](relIds.length * dim)
      var f = 0
      while (f < relIds.length) {
        val va = row.getString(nMeta + 2 * f)
        val vb = row.getString(nMeta + 2 * f + 1)
        val rid = relIds(f)
        val off = f * dim
        if (va != vb) {
          val ia = vocab(rid).get(va)
          val ib = vocab(rid).get(vb)
          if (ia.isEmpty || ib.isEmpty) {
            java.util.Arrays.fill(out, off, off + dim, 1.0)
          } else {
            val ea = ent(rid * maxVal + ia.get)
            val eb = ent(rid * maxVal + ib.get)
            val er = rel(rid)
            var i = 0
            while (i < dim) {
              out(off + i) = ea(i).toDouble + er(i) - eb(i); i += 1
            }
          }
        } // equal values: zero block
        f += 1
      }
      (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getString(3), row.getString(4), out)
    }.toDF("idA", "idB", "label", "split_a", "split_b", "features")
  }

  /**
   * Per-field translated-cosine scores for the TEST candidate pairs:
   * (idA, idB, label, dist, st_dist). `st_dist` isolates the evolving
   * field — the direct evidence that the trainer learned the
   * fin->done / open->live / pend->wait value translations.
   */
  def pairScores(spark: SparkSession, sfDir: String,
                 model: Model): DataFrame = {
    val fieldCols = ScoredRels.map(r => col(s"f_$r"))
    fieldScores(spark, sfDir, model)
      .withColumn("dist", fieldCols.reduce(_ + _))
      .select(col("idA"), col("idB"), col("label"), col("dist"),
        col("f_st").as("st_dist"))
  }

  /** Summary row: config, threshold (swept on the TRAIN split — never
    * on the pairs being reported, mirroring the flagship
    * EntryStages.theta), test-split F1/P/R, MRR, and the mean st-field
    * distance over test TRUE pairs in micro-units (low = the value
    * evolution was actually learned). */
  def eval(spark: SparkSession, sfDir: String,
           cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val model = train(spark, sfDir, cfg)
    val fieldCols = ScoredRels.map(r => col(s"f_$r"))
    val all = fieldScores(spark, sfDir, model, testOnly = false)
      .withColumn("dist", fieldCols.reduce(_ + _))
      .select(col("idA"), col("idB"), col("label"), col("dist"),
        col("f_st").as("st_dist"), col("split_a"), col("split_b"))
      .persist()
    val theta = Splits.theta(all, col("dist"), col("label"))
    val m = Splits.testEval(all, col("dist"), col("label"), theta).head()
    val tpSt = Splits.test(all).filter(col("label") === 1)
      .agg(avg("st_dist")).head().getDouble(0)
    all.unpersist()
    Seq((cfg.dim.toLong, cfg.epochs.toLong, theta,
      m.getAs[Double]("f1"), m.getAs[Double]("precision"),
      m.getAs[Double]("recall"), m.getAs[Double]("mrr"),
      math.round(tpSt * 1000000)))
      .toDF("dim", "epochs", "theta", "f1", "precision", "recall", "mrr",
        "tp_st_dist_micros")
  }
}
