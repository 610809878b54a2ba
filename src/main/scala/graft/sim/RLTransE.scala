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
    /** Packed table row of value index `vidx` of relation `rid`. */
    def offset(rid: Int, vidx: Int): Int = rid * maxValCount + vidx

    /** Packed embedding row for (relation, value), if in vocabulary. */
    def valueRow(rid: Int, value: String): Option[Array[Float]] =
      vocab(rid).get(value).map(v => ent(offset(rid, v)))
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

  /** The offset value table over a VEG triple set: the per-relation
    * vocabularies, the widest relation's value count `maxVal`, each
    * relation's negative tail range (first row, value count) and the
    * offset-indexed (h, t, r) triples. */
  private final case class ValueTable(
      vocab: Array[Map[String, Int]], maxVal: Int,
      tailRanges: Array[(Long, Long)], triples: DataFrame) {
    def nEnt: Int = vocab.length * maxVal
  }

  /** Builds the [[ValueTable]] of `veg` and hands it to `use`, keeping
    * the triples' inputs cached until `use` returns. */
  private def withValueTable[A](veg: DataFrame, maxDriverTriples: Long)
                               (use: ValueTable => A): A = {
    val nRel = GraphBuild.Relations.size
    val vegTrain = veg.persist()
    val vocabDf = vocabulary(vegTrain).persist()
    try {
      // the dictionary IS the model's row index: model-sized by
      // construction, so collecting it costs what broadcasting the
      // embedding matrix already costs — GUARDED: if the value
      // vocabulary is data-sized (per-field cardinality ~ record count),
      // the offset-table premise is broken and we fail loudly here
      // instead of OOMing the driver on the collect below.
      val vocabCount = vocabDf.count()
      require(vocabCount <= maxDriverTriples,
        s"RLTransE value vocabulary has $vocabCount rows, over the " +
          s"driver-side model bound ($maxDriverTriples): per-field " +
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
      use(ValueTable(vocab, maxVal, tailRanges, triples))
    } finally {
      vegTrain.unpersist(); vocabDf.unpersist()
    }
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
      withValueTable(GraphBuild.vegTrainTriples(spark, sfDir),
          Config().maxDriverTriples) { vt =>
        val nRel = GraphBuild.Relations.size
        val m = TransE.train(spark,
          vt.triples.withColumn("idx",
            TransE.packedIdx(vt.nEnt.toLong, nRel.toLong)),
          vt.nEnt, nRel, cfg.copy(tailRanges = Some(vt.tailRanges)))
        Model(m.ent, m.rel, vt.vocab, vt.maxVal, m.lossByEpoch)
      }
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
        Seq("ent", ep.toLong, m.offset(rid, vidx).toLong) ++
          m.ent(m.offset(rid, vidx)).toSeq)
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
    // Offset-indexed triples over the DISTINCT value-pair graph —
    // vocab-pair-sized (the evolution structure itself), NOT
    // data-sized: Spark distributes the heavy part (deriving the graph
    // from all pairs, and later scoring all candidate pairs); the
    // model-sized SGD loop runs driver-side with the reference's own
    // mini-batch scheme (batchSize 128, lr 0.1,
    // /root/reference/VEG/rltranse.py:22-27), which converges where a
    // full-batch distributed epoch oscillates.
    val (vt, triples) = withValueTable(veg, cfg.maxDriverTriples) { vt =>
      val tripleDf = vt.triples.persist()
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
      tripleDf.unpersist()
      (vt, triples)
    }
    val (ent, rel, losses) = sgd(triples, vt.nEnt,
      GraphBuild.Relations.size, vt.tailRanges, cfg)
    Model(ent, rel, vt.vocab, vt.maxVal, losses)
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

  /** The staged-oracle anchor: per-pair per-field micro distances of
    * the full batch fit AND of the half-epochs fit (grid_werl's other
    * sweep cell), on the 1e-6 grid the WERL channels quantize on, so the
    * DuckDB replay compares these BIGINTs exactly and downstream oracles
    * reconstruct the channels as `micros / 1e6`. Exporting both from
    * ONE query lets the DuckDB twin verify the half-trained model as an
    * intermediate readout of the same training chain it already unrolls
    * for the full fit, instead of replaying the chain a second time
    * (~35 s/gate run). The half-epochs model is the SAME memoized fit
    * grid_werl's Scala side scores through
    * ([[graft.ml.Weights.werlBatchEval]]). */
  def batchPairFields(spark: SparkSession, sfDir: String,
                      cfg: TransE.Config = BatchCfg): DataFrame = {
    val model = trainBatch(spark, sfDir, cfg)
    val half = cfg.copy(epochs = cfg.epochs / 2)
    val mHalf = trainBatch(spark, sfDir, half)
    val full = fieldScores(spark, sfDir, model, testOnly = false)
      .select(PairCols.map(col) ++
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

  private val PairCols = Seq("idA", "idB", "label", "split_a", "split_b")

  /**
   * The per-field decode both [[fieldScores]] and [[fieldDiffFeatures]]
   * run: candidate pairs (all, or the test split) with `width` doubles
   * per scored field in the array column `out`. A field whose two
   * values are equal keeps its zero block; a value missing from the
   * TRAIN vocabulary fills the block with ones; otherwise
   * `kernel(ea, er, eb, out, off)` writes the block at `off` from the
   * two value rows and the relation row.
   */
  private def decodeFields(spark: SparkSession, sfDir: String,
                           model: Model, testOnly: Boolean, width: Int,
                           out: String)(
      kernel: (Array[Float], Array[Float], Array[Float], Array[Double],
        Int) => Unit): DataFrame = {
    import spark.implicits._
    val keyed = graft.EntryStages.keyed(spark, sfDir)
    def sideFields(idCol: String, prefix: String) =
      keyed.select(Seq(col("id").as(idCol)) ++
        ScoredRels.map(r => col(r).as(s"$prefix$r")): _*)
    val base = graft.EntryStages.cand(spark, sfDir)
    val cand = (if (testOnly) Splits.test(base) else base)
      .select(col("idA"), col("idB"),
        (col("dni_a") === col("dni_b")).cast("long").as("label"),
        col("split_a"), col("split_b"))
      .join(sideFields("idA", "a_"), "idA")
      .join(sideFields("idB", "b_"), "idB")
      .select(PairCols.map(col) ++
        ScoredRels.flatMap(r => Seq(col(s"a_$r"), col(s"b_$r"))): _*)
    val relIds = ScoredRels.map(GraphBuild.Relations.indexOf).toArray
    val bcast = spark.sparkContext.broadcast(model)
    val nMeta = PairCols.length
    cand.map { row =>
      val m = bcast.value
      val acc = new Array[Double](relIds.length * width)
      var f = 0
      while (f < relIds.length) {
        val va = row.getString(nMeta + 2 * f)
        val vb = row.getString(nMeta + 2 * f + 1)
        val rid = relIds(f)
        val off = f * width
        if (va != vb) {
          (m.valueRow(rid, va), m.valueRow(rid, vb)) match {
            case (Some(ea), Some(eb)) => kernel(ea, m.rel(rid), eb, acc, off)
            case _ => java.util.Arrays.fill(acc, off, off + width, 1.0)
          }
        }
        f += 1
      }
      (row.getLong(0), row.getLong(1), row.getLong(2),
        row.getString(3), row.getString(4), acc)
    }.toDF(PairCols :+ out: _*)
  }

  /**
   * Per-field translated-cosine distances for candidate pairs:
   * (idA, idB, label, split_a, split_b, f_<rel>...) — one column per
   * scored field, the building block of the RLTransE evals and of
   * WERL's learned per-column weights. With `l1 = true` the per-field
   * metric is the mean elementwise |a + r - b| instead of cosine
   * distance — the reference's unweighted "mean embedding" record
   * distance (/root/reference/werl.py:335-358).
   */
  def fieldScores(spark: SparkSession, sfDir: String, model: Model,
                  testOnly: Boolean = true,
                  l1: Boolean = false): DataFrame =
    decodeFields(spark, sfDir, model, testOnly, width = 1, out = "dds") {
      (ea, er, eb, acc, off) =>
        val shifted = new Array[Float](ea.length)
        var i = 0
        while (i < ea.length) { shifted(i) = ea(i) + er(i); i += 1 }
        acc(off) =
          if (l1) Embed.l1Mean(shifted, eb)
          else Embed.cosineDistance(shifted, eb)
    }.select(PairCols.map(col) ++
      ScoredRels.zipWithIndex.map { case (r, i) =>
        element_at(col("dds"), i + 1).as(s"f_$r")
      }: _*)

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
    val dim = model.rel(0).length
    decodeFields(spark, sfDir, model, testOnly = false, width = dim,
        out = "features") { (ea, er, eb, acc, off) =>
      var i = 0
      while (i < dim) { acc(off + i) = ea(i).toDouble + er(i) - eb(i); i += 1 }
    }
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
